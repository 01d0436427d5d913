"""CLI surface (C3, SURVEY §2.5): JSON page assembly for the trends
endpoint, the query runner, and RFC3339 offset handling — previously
only manually verified."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import Row

from currency_market_pulse_spark.__main__ import _parse_ts, main

from tests.conftest import SF_DIR


def test_parse_ts_converts_offsets_to_utc():
    assert _parse_ts("2024-01-01T00:00:00") == dt.datetime(2024, 1, 1)
    assert _parse_ts("2024-01-01T00:00:00Z") == dt.datetime(2024, 1, 1)
    # +05:00 must CONVERT, not just strip (ADVICE r1)
    assert _parse_ts("2024-01-01T05:00:00+05:00") == dt.datetime(2024, 1, 1)
    assert _parse_ts("2023-12-31T19:00:00-05:00") == dt.datetime(2024, 1, 1)


def _trades_parquet(spark, tmp_path) -> str:
    path = str(tmp_path / "trades")
    spark.createDataFrame([Row(
        user_id="u", currency_from="EUR", currency_to="GBP",
        amount_sell_micros=1_000_000, amount_buy_micros=2_000_000 + i,
        rate=2.0 + i / 1e6, originating_country="FR",
        time_placed=dt.datetime(2024, 1, 1, 12, i)) for i in range(3)]
    ).write.parquet(path)
    return path


def test_cli_trends_emits_json_page(spark, tmp_path, capsys):
    path = _trades_parquet(spark, tmp_path)
    rc = main(["trends", "--trades-path", path,
               "--from", "2024-01-01T12:00:00Z",
               "--to", "2024-01-01T13:00:00Z",
               "--cur-from", "EUR", "--cur-to", "GBP"], spark=spark)
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 1  # all three trades in one 10-min window
    page = lines[0]
    assert set(page) == {"window", "min", "max", "mean", "median"}
    assert page["window"] == "2024-01-01T12:00:00"
    assert page["min"] == 2.0 and page["max"] == 2.000002


def test_cli_trends_unions_trade_roots(spark, tmp_path, capsys):
    """Two sink roots (an upgraded deployment's old and new root) are
    read one by one and unioned: one window holds both roots' trades."""
    from currency_market_pulse_spark.streaming.txn_sink import (
        TxnParquetTradesSink,
    )

    roots = [str(tmp_path / name) for name in ("old", "new")]
    for b, root in enumerate(roots):
        TxnParquetTradesSink(root).write(spark.createDataFrame([Row(
            user_id="u", currency_from="EUR", currency_to="GBP",
            amount_sell_micros=1_000_000, amount_buy_micros=2_000_000,
            rate=2.0 + b, originating_country="FR",
            time_placed=dt.datetime(2024, 1, 1, 12, b))]), b)
    rc = main(["trends", "--trades-path", *roots,
               "--from", "2024-01-01T12:00:00Z",
               "--to", "2024-01-01T13:00:00Z",
               "--cur-from", "EUR", "--cur-to", "GBP"], spark=spark)
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert [(p["min"], p["max"]) for p in lines] == [(2.0, 3.0)]


def test_cli_query_runs_registered_entry(spark, capsys):
    rc = main(["query", "q1_pricing_summary", "--sf-dir", SF_DIR,
               "--limit", "3"], spark=spark)
    assert rc == 0
    rows = [json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert 0 < len(rows) <= 3
    assert "l_returnflag" in rows[0]


def test_cli_query_unknown_name_fails_with_listing(spark, capsys):
    rc = main(["query", "no_such_query"], spark=spark)
    assert rc == 2
    assert "trends_10min" in capsys.readouterr().err


def test_cli_import_once_is_write_once_and_replay_free(spark, tmp_path):
    """`import --once` writes through the write-once txn sink: the file
    drop's valid rows are stored with a committed manifest, the row
    with an unparseable timestamp is dropped, and a second run on the
    same checkpoint adds no row and no visible path."""
    import os

    from currency_market_pulse_spark.streaming.txn_sink import (
        TxnParquetTradesSink,
    )

    src, sink_path = tmp_path / "in", str(tmp_path / "trades")
    src.mkdir()
    trade = {"currencyFrom": "EUR", "currencyTo": "GBP",
             "amountSell": 1000.0, "amountBuy": 747.1, "rate": 0.747,
             "timePlaced": "24-JAN-18 10:27:44",
             "originatingCountry": "FR"}
    with open(src / "f1.json", "w") as f:
        for i in range(4):
            f.write(json.dumps({**trade, "userId": f"u{i}"}) + "\n")
        f.write(json.dumps({**trade, "userId": "bad",
                            "timePlaced": "not-a-timestamp"}) + "\n")
    argv = ["import", "--source-dir", str(src), "--sink-path", sink_path,
            "--checkpoint", str(tmp_path / "ckpt"), "--once"]

    assert main(argv, spark=spark) == 0
    assert os.path.exists(os.path.join(sink_path, "_txn", "batch=0.json"))
    stored = sorted(r.user_id for r in
                    spark.read.parquet(sink_path).select("user_id")
                    .collect())
    assert stored == ["u0", "u1", "u2", "u3"]   # bad timestamp dropped
    visible = TxnParquetTradesSink(sink_path).visible_files()

    assert main(argv, spark=spark) == 0
    assert spark.read.parquet(sink_path).count() == 4
    assert TxnParquetTradesSink(sink_path).visible_files() == visible
