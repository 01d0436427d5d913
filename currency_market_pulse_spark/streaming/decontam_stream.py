"""Streaming decontamination: every micro-batch of ingested documents
is screened against a held-out benchmark corpus BEFORE it reaches the
training store — the decontaminate-at-ingest posture (the batch
operator's run-loop, the way neardup_stream.py executes
dedup_incremental continuously).

The eval side is static (benchmarks change rarely), so its exact
shingle relation is built ONCE at handler construction and parquet'd
to ``eval_index_path``; each batch reads it back instead of
re-shingling the eval corpus.

Per batch: shingle the batch -> hash join with the stored eval
shingles (strategy left to the planner, which broadcasts whichever
side is small) -> flagged (doc_id, eval_doc_id, n_overlap) rows land
under batch_id=<id> with dynamic partition overwrite (idempotent
replay, the importer discipline).  Clean docs pass through
untouched; the flag log is the quarantine list a downstream sink
anti-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.utils import AnalysisException

from currency_market_pulse_spark.operators.dedup import (
    _doc_shingles, shingles_from_tokens,
)

_FLAG_SCHEMA = ("doc_id bigint, eval_doc_id bigint, n_overlap bigint, "
                "batch_id bigint")
_EVAL_SCHEMA = "eval_doc_id bigint, sh string"


class StreamingDecontam:
    """foreachBatch handler screening ingest against a fixed eval set."""

    def __init__(self, eval_df: DataFrame, eval_index_path: str,
                 flags_path: str, n: int = 5, min_overlap: int = 1):
        self.n = n
        self.min_overlap = min_overlap
        self.eval_index_path = eval_index_path
        self.flags_path = flags_path
        (_doc_shingles(eval_df, n, "doc_id", "text")
         .select(F.col("doc_id").alias("eval_doc_id"), "sh")
         .write.mode("overwrite").parquet(eval_index_path))

    def process_batch(self, batch: DataFrame, batch_id: int,
                      toks: DataFrame | None = None) -> None:
        """``toks``: optional pre-tokenized (doc_id, _t) relation for
        ``batch`` — the fused doc pipeline's shared tokenization
        (streaming/pipeline.py); _doc_shingles IS
        tokens+shingles_from_tokens, so the shingle relation is
        bit-equal either way."""
        spark = batch.sparkSession
        sh = ((shingles_from_tokens(toks, self.n, "doc_id", "_t")
               if toks is not None
               else _doc_shingles(batch, self.n, "doc_id", "text"))
              .select("doc_id", "sh"))
        ev = spark.read.schema(_EVAL_SCHEMA).parquet(self.eval_index_path)
        flags = (sh.join(ev, "sh")
                 .groupBy("doc_id", "eval_doc_id")
                 .agg(F.count(F.lit(1)).alias("n_overlap"))
                 .filter(F.col("n_overlap") >= self.min_overlap))
        (flags.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(self.flags_path))

    def read_flags(self, spark) -> DataFrame:
        """Schema-safe read of the accumulated quarantine log."""
        try:
            return spark.read.schema(_FLAG_SCHEMA).parquet(self.flags_path)
        except AnalysisException:
            return spark.createDataFrame([], _FLAG_SCHEMA)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str,
               trigger: str | None = None):
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("update"))
        if trigger:
            writer = writer.trigger(processingTime=trigger)
        return writer.start()
