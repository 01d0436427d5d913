"""The import pipeline: stream -> 1 s micro-batches -> columnar store,
with commit-after-write semantics and idempotent replay.

Reference (importer/importing/service.go): Kafka messages buffer in
memory (T1), a 1 s ticker flushes them as one columnar INSERT into
ClickHouse (T2/S4), and offsets are committed only after a durable
write (service.go:123-128) — at-least-once, duplicates possible on
replay.

Spark mapping: Structured Streaming IS the accumulator+ticker
(trigger(processingTime='1 second')); the checkpoint IS the offset
commit (written after foreachBatch returns — same order).  We tighten
at-least-once to effective exactly-once with a batch-id high-watermark:
every sink write is keyed by its batch id, and a replayed batch is a
no-op or an in-place redo, never an append of duplicates.

Sinks are pluggable behind ``Sink``: the write-once parquet sink
(streaming/txn_sink.py ``TxnParquetTradesSink``; date-partitioned +
time-sorted to mirror MergeTree ORDER BY time_placed, one manifest
commit per batch) and a JDBC sink for ClickHouse.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

FLUSH_INTERVAL = "1 second"  # importer/importing/service.go:97


class Sink:
    """One micro-batch -> durable storage.  Implementations MUST be
    idempotent per batch_id (replay after a crash re-delivers the same
    batch with the same id)."""

    def write(self, batch: DataFrame, batch_id: int) -> None:
        raise NotImplementedError


@dataclass
class JdbcSink(Sink):
    """ClickHouse (or any JDBC) sink.  Exactly-once without sink-side
    transactions: tag rows with batch_id and delete-before-insert on
    replay, so a crash between sink write and checkpoint commit never
    yields duplicates (reference: importer/importing/service.go:156-171
    inserts into ClickHouse; there, ReplacingMergeTree with batch_id in
    the ordering key achieves the same dedup natively — pass
    ``delete_sql=None`` to skip the DELETE in that setup).

    Tested for real against embedded Derby (tests/test_jdbc_sink.py);
    for ClickHouse use url=jdbc:clickhouse://... with the clickhouse-
    jdbc driver on the classpath and delete_sql="ALTER TABLE {table}
    DELETE WHERE batch_id = {batch_id}".
    """
    url: str
    table: str
    driver: str = "com.clickhouse.jdbc.ClickHouseDriver"
    #: str.format template executed before each insert; {table} and
    #: {batch_id} are substituted.  None disables the pre-delete.
    #: batch_id is ANSI-quoted: Spark's JDBC writer creates quoted
    #: lowercase columns, which case-folding databases (Derby,
    #: Postgres) would not match unquoted.
    delete_sql: str | None = 'DELETE FROM {table} WHERE "batch_id" = {batch_id}'

    def _delete_replayed(self, spark, batch_id: int) -> None:
        """Best-effort pre-delete of a replayed batch through a plain
        JDBC connection (driver-side; the statement touches only one
        batch_id).  'Table missing' errors are ignored — first write
        creates the table."""
        jvm = spark._jvm
        jvm.java.lang.Class.forName(self.driver)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(self.delete_sql.format(
                    table=self.table, batch_id=int(batch_id)))
            except Exception as e:  # table not created yet
                # 'table missing' spellings: Derby 42X05, Postgres
                # "does not exist", ClickHouse "doesn't exist" /
                # UNKNOWN_TABLE code 60 (ADVICE r2 — without it the
                # docstring-recommended ClickHouse setup would fail the
                # stream on the very first batch).  The code match is
                # word-bounded (ADVICE r3: a bare substring "code: 60"
                # also matches codes 600-609, silently skipping replay
                # dedup on an unrelated fatal error).  Any OTHER delete
                # error stays fatal so dedup is never silently skipped.
                msg = str(e).lower()
                if ("42x05" not in msg and "does not exist" not in msg
                        and "doesn't exist" not in msg
                        and "unknown_table" not in msg
                        and re.search(r"code:\s*60\b", msg) is None):
                    raise
            finally:
                stmt.close()
        finally:
            conn.close()

    def write(self, batch: DataFrame, batch_id: int) -> None:
        if self.delete_sql is not None:
            self._delete_replayed(batch.sparkSession, batch_id)
        (batch.withColumn("batch_id", F.lit(batch_id))
         .write.format("jdbc")
         .option("url", self.url)
         .option("dbtable", self.table)
         .option("driver", self.driver)
         .mode("append")
         .save())


def run_import(trades_stream: DataFrame, sink: Sink,
               checkpoint_dir: str) -> StreamingQuery:
    """Start the import query: normalized trades stream -> sink every
    ``FLUSH_INTERVAL``.

    - invalid rows (unparseable time_placed -> NULL) are dropped like
      the reference's HTTP 400 path (api.go:62-65).
    - the checkpoint commits AFTER sink.write returns, mirroring
      MarkMessage-after-saveTrades (importing/service.go:123-128).
    """
    return (trades_stream.filter(F.col("time_placed").isNotNull())
            .writeStream
            .trigger(processingTime=FLUSH_INTERVAL)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda b, i: sink.write(b, i))
            .start())
