"""Streaming decontamination: a leaked doc arriving in a later
micro-batch is flagged against the fixed eval set, clean docs are
not, stream flags equal the batch operator's pairs over the same
union, and crash-replay of a batch is idempotent."""

from __future__ import annotations

import json
import os

import pytest

from currency_market_pulse_spark.operators import decontam as C
from currency_market_pulse_spark.streaming.decontam_stream import (
    StreamingDecontam,
)

LEAK = ("the quick brown fox jumps over the lazy dog while the calm "
        "river flows past the old stone bridge at dawn")
CLEAN1 = ("completely unrelated text about parquet row groups and "
          "shuffle partitions in a distributed query engine runtime")
CLEAN2 = "another clean training document with nothing shared at all"


def _write(path, rows, mtime):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


@pytest.mark.slow
def test_stream_flags_leak_and_matches_batch_operator(spark, tmp_path):
    ev = spark.createDataFrame(
        [(100, LEAK), (101, "held out evaluation prompt squad entry")],
        "doc_id long, text string")
    sd = StreamingDecontam(ev,
                           eval_index_path=str(tmp_path / "eval_idx"),
                           flags_path=str(tmp_path / "flags"))
    src = tmp_path / "in"
    src.mkdir()
    _write(src / "f1.json", [{"doc_id": 1, "text": CLEAN1}], 1_000_000)
    _write(src / "f2.json", [{"doc_id": 2, "text": LEAK},
                             {"doc_id": 3, "text": CLEAN2}], 1_000_100)
    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .json(str(src)))
    q = sd.attach(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    flags = {(r.doc_id, r.eval_doc_id): r.n_overlap
             for r in sd.read_flags(spark).collect()}
    assert set(f[0] for f in flags) == {2}     # only the leak flagged
    assert flags[(2, 100)] >= 1

    train = spark.createDataFrame(
        [(1, CLEAN1), (2, LEAK), (3, CLEAN2)], "doc_id long, text string")
    batch_pairs = {(r.train_doc_id, r.eval_doc_id): r.n_overlap
                   for r in C.contamination_pairs(train, ev, n=5)
                   .collect()}
    assert batch_pairs == flags


def test_replayed_batch_is_idempotent(spark, tmp_path):
    ev = spark.createDataFrame([(100, LEAK)], "doc_id long, text string")
    sd = StreamingDecontam(ev,
                           eval_index_path=str(tmp_path / "eval_idx"),
                           flags_path=str(tmp_path / "flags"))
    b0 = spark.createDataFrame([(5, LEAK)], "doc_id long, text string")
    sd.process_batch(b0, 0)
    once = sorted(tuple(r) for r in sd.read_flags(spark).collect())
    sd.process_batch(b0, 0)   # crash replay
    twice = sorted(tuple(r) for r in sd.read_flags(spark).collect())
    assert once == twice and len(once) == 1
