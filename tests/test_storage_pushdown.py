"""Closes the plan-audit caveat: on REAL trades storage (the streaming
sink's date-partitioned layout with physical pair columns), the trends
query's predicates reach the scan — pair equality as a parquet
PushedFilter, the time range as a partition-pruning filter."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from currency_market_pulse_spark.operators.trends import trends
from currency_market_pulse_spark.sources.catalog import events_as_trades
from currency_market_pulse_spark.streaming.txn_sink import (
    TxnParquetTradesSink,
)
from tests.conftest import SF_DIR


def test_trends_pushdown_on_physical_storage(spark, tmp_path):
    out = str(tmp_path / "trades")
    TxnParquetTradesSink(out).write(events_as_trades(spark, SF_DIR),
                                    batch_id=0)

    stored = spark.read.parquet(out)
    q = trends(stored,
               date_from="2024-01-10 00:00:00", date_to="2024-01-12 00:00:00",
               currency_from="PUR", currency_to="USD")
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()

    # pair equality pushed into the parquet reader
    assert "EqualTo(currency_from,PUR)" in plan
    assert "EqualTo(currency_to,USD)" in plan
    # time filter prunes date partitions before any file is read
    assert "PartitionFilters" in plan and "trade_date" in plan
    # and the query is still correct on the stored layout
    rows = q.collect()
    assert len(rows) > 0
    direct = trends(events_as_trades(spark, SF_DIR),
                    date_from="2024-01-10 00:00:00",
                    date_to="2024-01-12 00:00:00",
                    currency_from="PUR", currency_to="USD").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in direct]


def test_partition_pruning_reads_fewer_files(spark, tmp_path):
    out = str(tmp_path / "trades")
    TxnParquetTradesSink(out).write(events_as_trades(spark, SF_DIR),
                                    batch_id=0)
    narrow = (spark.read.parquet(out)
              .filter(F.col("trade_date") == "2024-01-10"))
    # partition filter must appear in the scan, not a post-filter
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(trade_date" in plan \
        or "trade_date" in plan.split("PartitionFilters")[1][:200]
    assert narrow.count() > 0
