"""Proto3 wire-format codec (P7): golden bytes, roundtrip properties,
Spark UDF end-to-end, malformed-input dead-lettering."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from currency_market_pulse_spark.functions.wire import (
    decode_trade, encode_trade, from_trade_proto, to_trade_proto,
)

# hand-verified against the proto3 spec (varints checked digit by digit)
GOLDEN_HEX = ("0a0631333432353612034555521a03474250208094ebdc0328e0ae9fe4"
              "02308092d6bd922c3a024652")


def test_golden_encoding():
    b = encode_trade("134256", "EUR", "GBP",
                     1_000_000_000, 747_100_000, 1_516_789_664_000, "FR")
    assert b.hex() == GOLDEN_HEX
    assert decode_trade(b)["amount_sell_micros"] == 1_000_000_000


def test_proto3_default_omission():
    # proto3 omits zero/empty fields; decode restores defaults
    b = encode_trade("", "", "", 0, 0, 0, "")
    assert b == b""
    d = decode_trade(b)
    assert d["user_id"] == "" and d["amount_sell_micros"] == 0


def test_null_and_nan_encode_as_proto3_default():
    """A null long column reaches the pandas UDF as NaN; both None and
    NaN must encode as the omitted proto3 default instead of crashing
    _varint (ADVICE r1)."""
    assert encode_trade(None, None, None, None, float("nan"), None, None) == b""
    b = encode_trade("u1", "EUR", "GBP", float("nan"), 5, None, "FR")
    d = decode_trade(b)
    assert d["amount_sell_micros"] == 0 and d["time_placed_ms"] == 0
    assert d["amount_buy_micros"] == 5 and d["user_id"] == "u1"


def test_null_numeric_row_survives_spark_encode(spark):
    """End-to-end: a null time_placed row must not fail the proto
    encode stage (the Kafka payload path does not drop invalid rows)."""
    df = spark.createDataFrame(
        [Row(user_id="u", currency_from="EUR", currency_to="GBP",
             amount_sell_micros=1, amount_buy_micros=2,
             time_placed_ms=None, originating_country="FR")],
        schema="user_id string, currency_from string, currency_to string,"
               "amount_sell_micros long, amount_buy_micros long,"
               "time_placed_ms long, originating_country string")
    [r] = to_trade_proto(df).select("value").collect()
    assert decode_trade(bytes(r.value))["time_placed_ms"] == 0


@settings(max_examples=200, deadline=None)
@given(
    user_id=st.text(max_size=20),
    cf=st.sampled_from(["EUR", "USD", "GBP", ""]),
    sell=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    buy=st.integers(min_value=0, max_value=2**62),
    ts=st.integers(min_value=0, max_value=2**62),
)
def test_roundtrip_property(user_id, cf, sell, buy, ts):
    b = encode_trade(user_id, cf, "GBP", sell, buy, ts, "FR")
    d = decode_trade(b)
    assert d["user_id"] == user_id and d["currency_from"] == cf
    assert d["amount_sell_micros"] == sell
    assert d["amount_buy_micros"] == buy and d["time_placed_ms"] == ts


def test_malformed_bytes_rejected():
    for bad in (b"\x08", b"\x0a\xff", b"\x0d\x01\x02\x03\x04"):
        try:
            decode_trade(bad)
            raise AssertionError(f"expected ValueError for {bad!r}")
        except ValueError:
            pass


def test_spark_roundtrip_and_dead_letter(spark):
    trades = spark.createDataFrame([Row(
        user_id="134256", currency_from="EUR", currency_to="GBP",
        amount_sell_micros=1_000_000_000, amount_buy_micros=747_100_000,
        originating_country="FR",
        time_placed=dt.datetime(2018, 1, 24, 10, 27, 44))])
    encoded = to_trade_proto(trades)
    assert encoded.select("value").collect()[0][0] is not None
    # splice in one corrupt payload
    corrupt = spark.createDataFrame([Row(value=bytearray(b"\x0d\x01"))])
    decoded = from_trade_proto(
        encoded.select("value").unionAll(corrupt)).collect()
    by_uid = {r.user_id: r for r in decoded}
    ok = by_uid["134256"]
    assert ok.amount_sell_micros == 1_000_000_000
    assert ok.time_placed_ms == int(
        dt.datetime(2018, 1, 24, 10, 27, 44,
                    tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert None in by_uid  # corrupt payload -> NULL row for dead letter
