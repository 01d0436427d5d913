"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource``): a
deterministic synthetic trade-request generator, batch AND streaming —
the engine's ingest front door without Kafka or file drops.

Why it exists: the reference's HTTP consumer (consumer/http/rest/
api.go:16-25) feeds the pipeline from the outside world; in tests and
demos that role is played by JSON file drops.  The Data Source API
(new in Spark 4) lets the engine expose the same ingest-shaped rows as
a first-class ``spark.read.format("trades_gen")`` / ``readStream``
source: partition-parallel, offset-tracked, and exactly replayable —
every row is a pure function of its index (md5-derived fields, no
RNG), so a restart re-reads identical data and the streaming source's
offsets compose with checkpointing into exactly-once delivery.

Batch:     spark.read.format("trades_gen").option("n", 1000)
                .option("parts", 8).load()
Streaming: spark.readStream.format("trades_gen")
                .option("rowsPerBatch", 100).load()

Register once per session:
    spark.dataSource.register(TradesGenDataSource)

Scale shape: generation is embarrassingly parallel (each
InputPartition owns a disjoint index range); the streaming reader's
offset is a single row counter, so state is O(1).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

#: ingest-shaped schema (functions/normalize.py INGEST_SCHEMA order).
_SCHEMA_DDL = ("userId string, currencyFrom string, currencyTo string, "
               "amountSell double, amountBuy double, rate double, "
               "timePlaced string, originatingCountry string")

_PAIRS = [("EUR", "USD"), ("GBP", "USD"), ("EUR", "GBP"), ("USD", "JPY")]
_COUNTRIES = ["FR", "DE", "GB", "US", "JP"]


#: default user-id cardinality; overridable per read with the
#: ``users`` option — the reference limiter keys per userId at
#: production cardinalities (consumer/ratelimit/ratelimit.go:38-47),
#: so gateway benchmarks must be able to offer realistic key
#: counts (VERDICT r12 directive 1; tools/stream_bench.py --users)
DEFAULT_USERS = 50


def gen_row(i: int, users: int = DEFAULT_USERS) -> tuple:
    """Trade request #i — a pure function of (i, users) (md5-derived),
    so any reader producing index i under the same ``users`` option
    emits the identical row."""
    h = hashlib.md5(f"trade|{i}".encode()).hexdigest()
    a, b, c, d = (int(h[j * 8:(j + 1) * 8], 16) for j in range(4))
    cf, ct = _PAIRS[a % len(_PAIRS)]
    sell = round(10.0 + (b % 100_000) / 100.0, 2)
    rate = round(0.5 + (c % 20_000) / 10_000.0, 4)
    buy = round(sell * rate, 2)
    # dd-MMM-yy HH:mm:ss, seconds advance with i (one trade/second)
    day = 1 + (i // 86_400) % 28
    hh, mm, ss = (i // 3600) % 24, (i // 60) % 60, i % 60
    ts = f"{day:02d}-AUG-24 {hh:02d}:{mm:02d}:{ss:02d}"
    return (f"u{a % users}", cf, ct, sell, buy, rate, ts,
            _COUNTRIES[d % len(_COUNTRIES)])


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int


class _BatchReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))
        self.users = int(options.get("users", DEFAULT_USERS))

    def partitions(self):
        step = max(1, -(-self.n // self.parts))
        return [_RangePartition(s, min(s + step, self.n))
                for s in range(0, self.n, step)]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            yield gen_row(i, self.users)


class _StreamReader(SimpleDataSourceStreamReader):
    """Offset = {"index": next_row}; each micro-batch advances by
    ``rowsPerBatch``.  readBetweenOffsets replays any committed range
    identically (pure-function rows), giving exactly-once composition
    with the checkpoint."""

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rowsPerBatch", 100))
        self.users = int(options.get("users", DEFAULT_USERS))

    def initialOffset(self):
        return {"index": 0}

    def read(self, start):
        s = start["index"]
        e = s + self.rows_per_batch
        return ([gen_row(i, self.users) for i in range(s, e)],
                {"index": e})

    def readBetweenOffsets(self, start, end):
        return [gen_row(i, self.users)
                for i in range(start["index"], end["index"])]


class TradesGenDataSource(DataSource):
    """``format("trades_gen")`` — see module docstring."""

    @classmethod
    def name(cls):
        return "trades_gen"

    def schema(self):
        return _SCHEMA_DDL

    def reader(self, schema: StructType):
        return _BatchReader(self.options)

    def simpleStreamReader(self, schema: StructType):
        return _StreamReader(self.options)
