"""Composed streaming pipeline (VERDICT r5 item 8): gateway rate
limiting, normalization, idempotent sink, live trends over the SINK's
files, and the streaming near-dup probe — one end-to-end run, plus the
CLI entry that drives it."""

from __future__ import annotations

import json

import pytest


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _req(user, ts, sell=100.0, buy=150.0):
    return {"userId": user, "currencyFrom": "EUR", "currencyTo": "USD",
            "amountSell": sell, "amountBuy": buy, "rate": 1.5,
            "timePlaced": ts, "originatingCountry": "FR"}


BASE = ("the quick brown fox jumps over the lazy dog while the calm "
        "river flows past the old stone bridge at dawn")
NEAR = BASE.replace("dawn", "dusk")
DISTINCT = ("completely unrelated text about parquet row groups and "
            "shuffle partitions in a distributed query engine runtime")


def _plant(tmp_path):
    req = tmp_path / "req"
    docs = tmp_path / "docs"
    req.mkdir()
    docs.mkdir()
    # user "hot": 3 requests inside one 1s window at limit=2 -> one 429;
    # user "calm": admitted.  A much later trade closes the 10:00 window.
    _write(req / "f1.json", [
        _req("hot", "12-AUG-24 10:01:01", buy=110.0),
        _req("hot", "12-AUG-24 10:01:01", buy=120.0),
        _req("hot", "12-AUG-24 10:01:01", buy=130.0),
        _req("calm", "12-AUG-24 10:02:00", buy=200.0),
    ])
    _write(req / "f2.json", [_req("calm", "12-AUG-24 11:30:00", buy=250.0)])
    _write(docs / "d1.json", [{"doc_id": 1, "text": BASE}])
    _write(docs / "d2.json", [{"doc_id": 2, "text": NEAR}])
    return req, docs


@pytest.mark.slow
def test_composed_pipeline_end_to_end(spark, tmp_path):
    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    req, docs = _plant(tmp_path)
    pipe = run_composed_pipeline(spark, str(req), str(docs),
                                 str(tmp_path / "out"),
                                 window_ms=1000, limit=2)
    try:
        pipe.wait_for(trades=4, dead=1, dups=1, windows=1)
        trades = spark.read.parquet(pipe.trades_path)
        got = trades.collect()
        dead = pipe.read_dead_letters(spark).collect()
        dups = pipe.neardup.read_dups(spark).collect()
        trends = {(r.time_window.isoformat(), r.currency_from): r
                  for r in spark.table(pipe.trends_view).collect()}
    finally:
        pipe.stop()

    # gateway: 4 of 5 requests admitted, 1 rejected with a retry hint
    assert len(got) == 4
    assert len(dead) == 1
    assert dead[0].user_id == "hot" and dead[0].retry_after_ms == 1000
    # normalization: client rate dropped, rate derived from buy/sell
    rates = sorted(round(r.rate, 6) for r in got)
    assert rates == [1.1, 1.2, 2.0, 2.5]
    # live view over the SINK: the 10:00 window closed (the 11:30
    # trade advanced the watermark) and aggregates exactly the three
    # ADMITTED trades that fall inside it — the rejected 1.3 trade is
    # absent, and the 11:30 trade sits in its own (still-open) window
    w = trends[("2024-08-12T10:00:00", "EUR")]
    assert (w.n_trades, w.min, w.max) == (3, 1.1, 2.0)
    # near-dup probe: the second batch's near-copy flagged vs doc 1
    assert [(d.new_id, d.dup_of) for d in dups] == [(2, 1)]


@pytest.mark.slow
def test_pipeline_cli_once(spark, tmp_path):
    from currency_market_pulse_spark.__main__ import main

    req, docs = _plant(tmp_path)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(["pipeline", "--requests-dir", str(req),
                   "--docs-dir", str(docs),
                   "--out-dir", str(tmp_path / "out"),
                   "--limit", "2", "--window-ms", "1000", "--once"],
                  spark=spark)
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary == {"trades_imported": 4, "requests_rejected": 1,
                       "near_dups_flagged": 1,
                       "closed_trend_windows": 1}


@pytest.mark.slow
def test_composed_pipeline_with_document_screens(spark, tmp_path):
    """Round-7 composition: the same doc stream also feeds the
    count-min heavy-hitter tracker and (with an eval set supplied)
    the decontaminate-at-ingest screen — the leaked doc is
    quarantined, the planted hot token surfaces, and the trades leg
    is unaffected."""
    import time

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    req, docs = _plant(tmp_path)
    ev = spark.createDataFrame([(900, BASE)], "doc_id long, text string")
    pipe = run_composed_pipeline(spark, str(req), str(docs),
                                 str(tmp_path / "out"),
                                 window_ms=1000, limit=2, eval_df=ev)
    try:
        pipe.wait_for(trades=4, dead=1, dups=1, windows=1)
        deadline = time.time() + 60
        flags, top, res = {}, {}, set()
        while time.time() < deadline:
            flags = {(r.doc_id, r.eval_doc_id)
                     for r in pipe.decontam.read_flags(spark).collect()}
            top = {r.tok: r.est
                   for r in pipe.heavy_hitters.heavy_hitters(spark)
                   .collect()}
            res = {r.doc_id
                   for r in pipe.reservoir.read_reservoir(spark)
                   .collect()}
            # doc 1 IS the eval doc (flagged); doc 2 differs by one
            # token but still shares 5-grams (flagged too)
            if (flags >= {(1, 900), (2, 900)} and top.get("the", 0) >= 6
                    and res == {1, 2}):
                break
            time.sleep(1)
    finally:
        pipe.stop()
    assert flags == {(1, 900), (2, 900)}
    assert top.get("the", 0) >= 6   # 'the' appears 3x per doc, 2 docs
    assert res == {1, 2}            # k=32 > corpus: reservoir holds all


@pytest.mark.slow
def test_view_rebuild_window_bounds_boot(spark, tmp_path):
    """Bounded live-view rebuild (VERDICT r10 directive 4): a restart
    with view_rebuild_days=N rebuilds the trends view from only the
    newest N trade-date partitions, and ON that horizon the rebuilt
    view equals the uninterrupted run's — older windows are batch-path
    territory, not silently wrong rows."""
    import datetime as dt

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    import os

    req, docs = _plant(tmp_path)
    # an 11-days-older trade date in front of the usual series: its
    # window closes too (the 12-AUG events advance the global
    # watermark far past it).  mtimes pin the ingest order — the file
    # source processes oldest-first, so the 01-AUG event must reach
    # the sink BEFORE the 11:30 event advances the view's watermark
    # past it (otherwise it is legitimately dropped as late data and
    # the full run's view itself would miss the old window).
    _write(req / "f0.json", [_req("old", "01-AUG-24 10:01:00",
                                  buy=300.0)])
    for i, name in enumerate(["f0.json", "f1.json", "f2.json"]):
        os.utime(req / name, (1_000_000 + i * 100, 1_000_000 + i * 100))
    pipe = run_composed_pipeline(
        spark, str(req), str(docs), str(tmp_path / "out"),
        window_ms=1000, limit=2, trends_view="rb_full")
    try:
        pipe.wait_for(trades=5, dead=1, dups=1, windows=2)
        full = sorted(tuple(r) for r in spark.table("rb_full").collect())
    finally:
        pipe.stop()

    # restart against the same sink, horizon = newest 2 trade dates
    pipe2 = run_composed_pipeline(
        spark, str(req), str(docs), str(tmp_path / "out"),
        window_ms=1000, limit=2, trends_view="rb_bounded",
        view_rebuild_days=2)
    try:
        pipe2.wait_for(trades=5, dead=1, dups=1, windows=1)
        bounded = sorted(tuple(r)
                         for r in spark.table("rb_bounded").collect())
    finally:
        pipe2.stop()

    cutoff = dt.date(2024, 8, 11)   # max(2024-08-12) - (2 - 1) days
    want = [t for t in full if t[0].date() >= cutoff]
    assert bounded == want
    assert len(want) < len(full)    # the old window really was pruned


def test_composed_pipeline_doc_trigger_tier(spark, tmp_path):
    """The background document probes can run on a slower, batchier
    trigger than the latency-critical legs (r12: doc_trigger +
    doc_files_per_trigger) — outputs are identical, only the trigger
    cadence changes."""
    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    req, docs = _plant(tmp_path)
    pipe = run_composed_pipeline(spark, str(req), str(docs),
                                 str(tmp_path / "out"),
                                 window_ms=1000, limit=2,
                                 doc_trigger="2 seconds",
                                 doc_files_per_trigger=2)
    try:
        pipe.wait_for(trades=4, dead=1, dups=1, windows=1)
        dups = pipe.neardup.read_dups(spark).collect()
        trades = spark.read.parquet(pipe.trades_path).count()
    finally:
        pipe.stop()
    assert trades == 4
    assert [(d.new_id, d.dup_of) for d in dups] == [(2, 1)]


def test_composed_pipeline_import_is_stateless(spark, tmp_path):
    """The gateway runs inside the import batch: the end-to-end
    outputs are the pinned ones (same admissions, same 429 with its
    retry hint, same normalized rates, same closed trend window), the
    import query reports no state operator and keeps no state store,
    and with no new input its batchId stops advancing — no idle
    timeout batches, so processAllAvailable returns."""
    import os
    import time

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    req, docs = _plant(tmp_path)
    out = tmp_path / "out"
    pipe = run_composed_pipeline(spark, str(req), str(docs), str(out),
                                 window_ms=1000, limit=2,
                                 trends_view="stateless_trends_live")
    try:
        pipe.wait_for(trades=4, dead=1, dups=1, windows=1)
        got = spark.read.parquet(pipe.trades_path).collect()
        dead = pipe.read_dead_letters(spark).collect()
        trends = {(r.time_window.isoformat(), r.currency_from): r
                  for r in spark.table(pipe.trends_view).collect()}
        q_import = pipe.queries[0]
        q_import.processAllAvailable()
        idle_id = q_import.lastProgress["batchId"]
        time.sleep(3.5)   # three and a half 1 s trigger intervals
        progress = q_import.recentProgress
    finally:
        pipe.stop()

    assert len(got) == 4
    assert len(dead) == 1
    assert dead[0].user_id == "hot" and dead[0].retry_after_ms == 1000
    assert sorted(round(r.rate, 6) for r in got) == [1.1, 1.2, 2.0, 2.5]
    w = trends[("2024-08-12T10:00:00", "EUR")]
    assert (w.n_trades, w.min, w.max) == (3, 1.1, 2.0)

    assert progress and all(not p["stateOperators"] for p in progress)
    assert progress[-1]["batchId"] == idle_id
    assert not os.path.exists(out / "ckpt_import" / "state")
    assert pipe.gateway_buckets is None
    # one snapshot per data batch, retention keeps the last two
    assert sorted(os.listdir(out / "gateway_state")) == [
        "batch_id=0", "batch_id=1"]


def test_fused_doc_legs_equal_independent(spark, tmp_path):
    """r15 directive 1's equality gate: the pipeline's ONE doc query
    (one read+tokenize per trigger, shared by near-dup, CMS, decontam,
    reservoir) produces outputs bit-equal to the four consumers each
    run through its own ``attach()`` over the same doc dir, over a
    two-batch corpus with exact copies, near-dups, a distinct doc,
    and a compaction inside the run.  Also pins the handle's per-leg
    timing record."""
    import os as _os
    import time

    from currency_market_pulse_spark.streaming.cms_stream import (
        StreamingHeavyHitters,
    )
    from currency_market_pulse_spark.streaming.decontam_stream import (
        StreamingDecontam,
    )
    from currency_market_pulse_spark.streaming.neardup_stream import (
        StreamingNearDup,
    )
    from currency_market_pulse_spark.streaming.pipeline import (
        RESERVOIR_K, run_composed_pipeline,
    )
    from currency_market_pulse_spark.streaming.reservoir_stream import (
        StreamingReservoir,
    )

    req, docs = _plant(tmp_path)
    # two doc files = two micro-batches; compact_every=1 folds batch 0
    # into a committed base segment before batch 1 probes it
    _write(docs / "d2.json", [{"doc_id": 2, "text": NEAR},
                              {"doc_id": 3, "text": BASE},
                              {"doc_id": 4, "text": DISTINCT},
                              {"doc_id": 5,
                               "text": NEAR.replace("dusk", "noon")}])
    for i, name in enumerate(["d1.json", "d2.json"]):
        _os.utime(docs / name, (2_000_000 + i * 100, 2_000_000 + i * 100))
    ev = spark.createDataFrame([(900, BASE)], "doc_id long, text string")

    def outputs(nd, hh, sd, rs):
        return {
            "dups": sorted((r.new_id, r.dup_of, round(r.jaccard, 9))
                           for r in nd.read_dups(spark).collect()),
            "bands": sorted(map(tuple, nd.read_bands(spark).collect())),
            "hashes": sorted(map(tuple, nd.read_hashes(spark).collect())),
            "shingles": sorted(map(tuple,
                                   nd.read_shingles(spark).collect())),
            "sketch": sorted(map(tuple,
                                 hh.merged_sketch(spark).collect())),
            "hh": sorted(map(tuple, hh.heavy_hitters(spark).collect())),
            "flags": sorted((r.doc_id, r.eval_doc_id, r.n_overlap)
                            for r in sd.read_flags(spark).collect()),
            "reservoir": sorted(map(tuple,
                                    rs.read_reservoir(spark).collect())),
        }

    out = tmp_path / "out"
    pipe = run_composed_pipeline(
        spark, str(req), str(docs), str(out), window_ms=1000, limit=2,
        eval_df=ev, trends_view="fde_fused", neardup_compact_every=1)
    try:
        deadline = time.time() + 120
        while not any(leg["batch_id"] == 1 for leg in pipe.doc_leg_s):
            pipe._raise_if_failed()
            assert time.time() < deadline, "doc query never reached batch 1"
            time.sleep(0.5)
        legs = list(pipe.doc_leg_s)
    finally:
        pipe.stop()
    fused = outputs(pipe.neardup, pipe.heavy_hitters, pipe.decontam,
                    pipe.reservoir)
    assert all(k in legs[-1] for k in
               ("read_tokenize", "neardup", "cms", "decontam",
                "reservoir", "total", "n_docs"))

    # reference: each consumer on its own query over the same files,
    # one file per micro-batch like the pipeline's doc stream
    ref = tmp_path / "ref"
    consumers = (
        StreamingNearDup(bands_path=str(ref / "idx_bands"),
                         shingles_path=str(ref / "idx_shingles"),
                         hashes_path=str(ref / "idx_hashes"),
                         dups_path=str(ref / "dups"), compact_every=1),
        StreamingHeavyHitters(sketch_path=str(ref / "cms_sketch"),
                              cand_path=str(ref / "cms_cand")),
        StreamingDecontam(ev, eval_index_path=str(ref / "eval_idx"),
                          flags_path=str(ref / "decontam_flags")),
        StreamingReservoir(reservoir_path=str(ref / "reservoir"),
                           k=RESERVOIR_K, weight_col=None),
    )
    for i, c in enumerate(consumers):
        q = c.attach(spark.readStream.schema("doc_id long, text string")
                     .option("maxFilesPerTrigger", "1").json(str(docs)),
                     str(ref / f"ckpt_{i}"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    indep = outputs(*consumers)

    assert fused == indep
    # the scenario actually exercised every output
    assert fused["dups"] and fused["flags"] and fused["sketch"]
    assert {n for n, _, _ in fused["dups"]} == {2, 3, 5}
    assert (3, 1, 1.0) in fused["dups"]          # exact copy
    # the compaction published a committed segment inside the pipeline
    assert pipe.neardup._segments(pipe.neardup.bands_path)
    assert {r[0] for r in fused["reservoir"]} == {1, 2, 3, 4, 5}


def test_doc_ckpt_mode_switch_fails_fast(tmp_path):
    """An out_dir holding the per-leg doc checkpoints of an older
    deployment (one query per doc leg) must not silently start a fresh
    ckpt_docs: the doc dir would re-ingest from batch 0 with new
    batch-id boundaries (CMS deltas double-count, near-dup re-probes
    indexed docs).  The pipeline fails fast before starting any
    query, and touches nothing."""
    import os

    import pytest

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    out = tmp_path / "out"
    legacy = out / "ckpt_neardup" / "offsets"
    legacy.mkdir(parents=True)
    (legacy / "0").write_text("{}")
    # spark=None proves the guard fires before ANY Spark work
    with pytest.raises(RuntimeError, match="ckpt_docs"):
        run_composed_pipeline(None, str(tmp_path / "req"),
                              str(tmp_path / "docs"), str(out))
    assert os.path.exists(str(legacy / "0"))
    assert sorted(os.listdir(out)) == ["ckpt_neardup"]


def test_gateway_state_upgrade_fails_fast(tmp_path):
    """An out_dir written by the stateful gateway (its state store
    under ckpt_import/state, no gateway_state/) must not restart
    silently with an empty snapshot: the pipeline fails fast before
    starting any query, and touches nothing."""
    import os

    import pytest

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    out = tmp_path / "out"
    old = out / "ckpt_import" / "state" / "0" / "0"
    old.mkdir(parents=True)
    (old / "1.delta").write_bytes(b"")
    # spark=None proves the guard fires before ANY Spark work
    with pytest.raises(RuntimeError, match="gateway_state"):
        run_composed_pipeline(None, str(tmp_path / "req"),
                              str(tmp_path / "docs"), str(out))
    assert os.path.exists(str(old / "1.delta"))
    assert sorted(os.listdir(out)) == ["ckpt_import"]


def test_sharded_index_upgrade_fails_fast(tmp_path):
    """An out_dir whose near-dup index was written with the removed
    shards option (rows under idx_bands/shard=<k>/) must not restart
    into an index that reads as empty: the pipeline fails fast before
    starting any query, and leaves the root byte-for-byte unchanged."""
    import os

    import pytest

    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    out = tmp_path / "out"
    part = out / "idx_bands" / "shard=0" / "tail" / "batch_id=3"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"PAR1 band rows")

    def tree():
        return {str(p.relative_to(out)): p.read_bytes()
                for p in out.rglob("*") if p.is_file()}

    before = tree()
    # spark=None proves the guard fires before ANY Spark work
    with pytest.raises(ValueError, match="shard=0"):
        run_composed_pipeline(None, str(tmp_path / "req"),
                              str(tmp_path / "docs"), str(out))
    assert tree() == before
    assert sorted(os.listdir(out)) == ["idx_bands"]


def test_doc_leg_timings_ring_buffer():
    """VERDICT r16 directive 4: doc_leg_s must not grow without bound
    on a long-lived pipeline (one dict per trigger forever) — it is a
    ring buffer keeping the newest DOC_LEG_RETAIN entries."""
    from currency_market_pulse_spark.streaming.pipeline import (
        DOC_LEG_RETAIN, ComposedPipeline,
    )

    pipe = ComposedPipeline(
        spark=None, trades_path="", dead_letter_path="",
        trends_view="", neardup=None)
    for i in range(DOC_LEG_RETAIN + 250):
        pipe.doc_leg_s.append({"batch_id": i})
    assert len(pipe.doc_leg_s) == DOC_LEG_RETAIN
    # newest retained, oldest evicted
    assert pipe.doc_leg_s[-1]["batch_id"] == DOC_LEG_RETAIN + 249
    assert pipe.doc_leg_s[0]["batch_id"] == 250
