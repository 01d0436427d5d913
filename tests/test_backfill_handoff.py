"""Backfill -> streaming handoff (VERDICT r12 directive 3): batch
bootstrap of the near-dup index + streaming the remainder is
dup-for-dup identical to an all-streaming ingest of the same corpus,
and the CLI subcommand drives the same path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from currency_market_pulse_spark.streaming.backfill import (
    backfill_bootstrap,
)
from currency_market_pulse_spark.streaming.neardup_stream import (
    StreamingNearDup,
)

BASE = ("the quick brown fox jumps over the lazy dog while the calm "
        "river flows past the old stone bridge at dawn")
NEAR = BASE.replace("dawn", "dusk")
NEAR2 = BASE.replace("quick", "swift").replace("dawn", "noon")
DISTINCT = ("completely unrelated text about parquet row groups and "
            "shuffle partitions in a distributed query engine runtime")
DISTINCT2 = ("another standalone passage concerning broadcast joins "
             "adaptive execution and columnar storage formats today")


def _corpus():
    """doc_id ascending = ingest order (the first-owner convention both
    paths share).  Cold part (1-6) has exact copies, a near-dup chain,
    and novel docs; the remainder (7-10) hits standing docs, standing
    near-dups, a within-batch copy, and novel content."""
    cold = [
        (1, BASE),
        (2, DISTINCT),
        (3, BASE),          # exact copy of 1
        (4, NEAR),          # near-dup of 1
        (5, DISTINCT2),
        (6, DISTINCT + " with a small appended suffix clause"),
    ]
    rest = [
        (7, BASE),          # exact copy of standing 1
        (8, NEAR2),         # near-dup of standing 1/4 (chain member)
        (9, NEAR2),         # exact copy of 8, same later batch window
        (10, "short"),      # too short to shingle, exact-novel
    ]
    return cold, rest


def _nd(tmp_path, tag):
    return StreamingNearDup(
        bands_path=str(tmp_path / f"{tag}_bands"),
        shingles_path=str(tmp_path / f"{tag}_shingles"),
        hashes_path=str(tmp_path / f"{tag}_hashes"),
        dups_path=str(tmp_path / f"{tag}_dups"))


def _dups(nd, spark):
    return sorted((r.new_id, r.dup_of, round(r.jaccard, 6))
                  for r in nd.read_dups(spark).collect())


def _index_fingerprint(nd, spark):
    return {
        "bands": sorted((r.doc_id, r.band, r.band_sig)
                        for r in nd.read_bands(spark).collect()),
        "shingles": sorted((r.doc_id, r.n_sh, r.sh)
                           for r in nd.read_shingles(spark).collect()),
        "hashes": sorted((r.doc_id, r.h)
                         for r in nd.read_hashes(spark).collect()),
    }


@pytest.mark.slow
def test_backfill_plus_stream_equals_all_streaming(spark, tmp_path):
    cold, rest = _corpus()

    # path A: batch backfill of the cold part, then stream the rest
    nd_a = _nd(tmp_path, "a")
    cold_df = spark.createDataFrame(cold, "doc_id long, text string")
    cold_dups = sorted(
        (r.new_id, r.dup_of, round(r.jaccard, 6))
        for r in backfill_bootstrap(nd_a, cold_df).collect())
    for bid, (i, t) in enumerate(rest):
        nd_a.process_batch(
            spark.createDataFrame([(i, t)], "doc_id long, text string"),
            bid)

    # path B: stream EVERYTHING in ingest order
    nd_b = _nd(tmp_path, "b")
    for bid, (i, t) in enumerate(cold + rest):
        nd_b.process_batch(
            spark.createDataFrame([(i, t)], "doc_id long, text string"),
            bid)

    # dup-for-dup equality over the whole corpus
    assert _dups(nd_a, spark) == _dups(nd_b, spark)
    # the expected flags, pinned: 3 exact->1; 4 near->1; 7 exact->1;
    # 8 near-> best standing member of the chain; 9 exact->8
    got = {n: d for n, d, _ in _dups(nd_a, spark)}
    assert got[3] == 1 and got[4] == 1 and got[7] == 1 and got[9] == 8
    assert 8 in got and got[8] in (1, 4)
    assert set(got) == {3, 4, 7, 8, 9}
    # cold dup log = exactly the cold part's flags
    assert cold_dups == [x for x in _dups(nd_b, spark)
                         if x[0] <= 6]
    # identical standing index contents (layout may differ: seeded
    # base segment vs tail dirs — the probe is oblivious to that)
    assert _index_fingerprint(nd_a, spark) == \
        _index_fingerprint(nd_b, spark)


@pytest.mark.slow
def test_backfill_then_attached_stream_query(spark, tmp_path):
    """The handoff through the real streaming machinery: seed via
    backfill, then attach a file-source stream for the remainder."""
    cold, rest = _corpus()
    nd = _nd(tmp_path, "s")
    backfill_bootstrap(
        nd, spark.createDataFrame(cold, "doc_id long, text string"))

    src = tmp_path / "in"
    src.mkdir()
    for k, (i, t) in enumerate(rest):
        p = src / f"f{k}.json"
        p.write_text(json.dumps({"doc_id": i, "text": t}) + "\n")
        import os
        os.utime(p, (1_000_000 + k * 100, 1_000_000 + k * 100))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = nd.attach(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {n: d for n, d, _ in _dups(nd, spark)}
    # cold flags (batch_id=-1) coexist with streamed flags (ids >= 0)
    assert set(got) == {3, 4, 7, 8, 9}
    ids = {r.batch_id for r in nd.read_dups(spark).collect()}
    assert -1 in ids and any(b >= 0 for b in ids)


def test_backfill_cli_subcommand(spark, tmp_path):
    from currency_market_pulse_spark.__main__ import main

    cold, _ = _corpus()
    docs_path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(cold, "doc_id long, text string") \
        .write.parquet(docs_path)
    rc = main(["backfill", "--docs-path", docs_path,
               "--index-dir", str(tmp_path / "idx")], spark=spark)
    assert rc in (0, None)
    nd = StreamingNearDup(
        bands_path=str(tmp_path / "idx" / "idx_bands"),
        shingles_path=str(tmp_path / "idx" / "idx_shingles"),
        hashes_path=str(tmp_path / "idx" / "idx_hashes"),
        dups_path=str(tmp_path / "idx" / "dups"))
    assert {n for n, _, _ in _dups(nd, spark)} == {3, 4}
    # seeded index holds the 5 exact-novel docs' hashes
    assert nd.read_hashes(spark).count() == 5


def test_backfill_refuses_non_empty_index(spark, tmp_path):
    """ADVICE r13: backfill is a fresh-index-only bootstrap — against
    an index that already holds data it must refuse with a clear
    error, not die in an opaque ENOTEMPTY rename or silently compute
    dups blind to standing docs."""
    import pytest

    nd = _nd(tmp_path, "refuse")
    cold, _rest = _corpus()
    docs = spark.createDataFrame(cold[:3], "doc_id long, text string")
    backfill_bootstrap(nd, docs)          # first bootstrap: fine
    with pytest.raises(ValueError, match="EMPTY standing index"):
        backfill_bootstrap(nd, docs)      # re-run: refused
    # a streamed-only index (tail, no base) is refused just the same
    nd2 = _nd(tmp_path, "refuse2")
    nd2.process_batch(docs, 0)
    with pytest.raises(ValueError, match="EMPTY standing index"):
        backfill_bootstrap(nd2, docs)
