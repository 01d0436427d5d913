"""Whole-composition crash/restart (VERDICT r9 directive 3): the
per-handler replay proofs (tests/test_txn_sink.py, test_neardup_stream,
test_cms_stream, test_reservoir_stream, test_decontam_stream) applied
one level up — kill the ENTIRE six-query composed pipeline at an
injected mid-publish failure of the import leg, restart every query
from its checkpoint, and assert all six durable outputs end equal to an
uninterrupted run over the same inputs:

    sink rows + dead letters + live trends view + near-dup log +
    CMS heavy hitters + reservoir + decontam quarantine flags.

The injected failure is the txn sink's hardest window (window (b) of
tests/test_txn_sink.py): the batch-0 manifest is DURABLE but the first
final-file rename crashes, so the restart must roll FORWARD from the
recorded manifest while the five other queries replay their own
partially-committed micro-batches.  The document stream is restarted
mid-corpus (one file ingested pre-crash, one post-restart) so the
doc-side handlers genuinely resume rather than replay a finished run.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from currency_market_pulse_spark.streaming import txn_sink as ts
from currency_market_pulse_spark.streaming.pipeline import (
    _SINK_STREAM_SCHEMA, run_composed_pipeline,
)


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _req(user, ts_str, sell=100.0, buy=150.0):
    return {"userId": user, "currencyFrom": "EUR", "currencyTo": "USD",
            "amountSell": sell, "amountBuy": buy, "rate": 1.5,
            "timePlaced": ts_str, "originatingCountry": "FR"}


BASE = ("the quick brown fox jumps over the lazy dog while the calm "
        "river flows past the old stone bridge at dawn")
NEAR = BASE.replace("dawn", "dusk")

REQ_F1 = [
    _req("hot", "12-AUG-24 10:01:01", buy=110.0),
    _req("hot", "12-AUG-24 10:01:01", buy=120.0),
    _req("hot", "12-AUG-24 10:01:01", buy=130.0),
    _req("calm", "12-AUG-24 10:02:00", buy=200.0),
]
REQ_F2 = [_req("calm", "12-AUG-24 11:30:00", buy=250.0)]
DOC_D1 = [{"doc_id": 1, "text": BASE}]
DOC_D2 = [{"doc_id": 2, "text": NEAR}]

#: every durable output at its final value (4 trades, 1 reject, 1
#: near-dup, 1 closed window, 2 quarantine flags, 2-doc reservoir)
_TARGETS = dict(trades=4, dead=1, dups=1, windows=1)


def _wait_screens(spark, pipe, timeout=90.0):
    """Poll the three screen outputs (decontam flags, CMS heavy
    hitters, reservoir) to their final values; the trades-side targets
    are covered by pipe.wait_for."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        pipe._raise_if_failed()
        flags = {(r.doc_id, r.eval_doc_id)
                 for r in pipe.decontam.read_flags(spark).collect()}
        top = {r.tok: r.est
               for r in pipe.heavy_hitters.heavy_hitters(spark).collect()}
        res = {r.doc_id for r in pipe.reservoir.read_reservoir(spark)
               .collect()}
        if flags >= {(1, 900), (2, 900)} and top.get("the", 0) >= 6 \
                and res == {1, 2}:
            return
        time.sleep(1)
    raise TimeoutError(
        f"screens never converged: flags={flags} the={top.get('the')} "
        f"reservoir={res}")


def _import_state(spark, pipe):
    """The import side's durable outputs plus the live view,
    batch-id-free so two runs with different micro-batch boundaries
    compare equal."""
    return {
        "trades": sorted(
            tuple(r) for r in spark.read.schema(_SINK_STREAM_SCHEMA)
            .parquet(pipe.trades_path).drop("batch_id").collect()),
        "dead": sorted(
            tuple(r) for r in pipe.read_dead_letters(spark)
            .drop("batch_id").collect()),
        "trends": sorted(
            tuple(r) for r in spark.table(pipe.trends_view).collect()),
    }


def _state(spark, pipe):
    """Every durable output of the composition, batch-id-free."""
    dups = sorted((r.new_id, r.dup_of)
                  for r in pipe.neardup.read_dups(spark).collect())
    flags = sorted((r.doc_id, r.eval_doc_id)
                   for r in pipe.decontam.read_flags(spark).collect())
    hh = sorted(tuple(r) for r in
                pipe.heavy_hitters.heavy_hitters(spark).collect())
    reservoir = sorted(
        tuple(r) for r in pipe.reservoir.read_reservoir(spark).collect())
    return {**_import_state(spark, pipe),
            "dups": dups, "flags": flags, "heavy_hitters": hh,
            "reservoir": reservoir}


def _start(spark, tmp_path, tag, view):
    ev = spark.createDataFrame([(900, BASE)], "doc_id long, text string")
    return run_composed_pipeline(
        spark, str(tmp_path / tag / "req"), str(tmp_path / tag / "docs"),
        str(tmp_path / tag / "out"), window_ms=1000, limit=2,
        trends_view=view, eval_df=ev)


#: signatures of the KNOWN-TRANSIENT environment failure this test hit
#: under full-suite load (VERDICT r10 directive 2): Hadoop's
#: RawLocalFileSystem.setPermission shells out a chmod per directory
#: create (no native lib in this container), and under 32-core suite
#: pressure that fork can fail with EAGAIN/ENOMEM.  The failure is in
#: the environment, not the assertions — retry with a FRESH workdir
#: and view names; anything not matching these signatures re-raises
#: immediately.
_TRANSIENT_ENV = ("error=11", "error=12",
                  "Resource temporarily unavailable",
                  "Cannot allocate memory")


def _is_transient_env(exc: BaseException) -> bool:
    seen, cur = set(), exc
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        if any(sig in str(cur) for sig in _TRANSIENT_ENV):
            return True
        cur = cur.__cause__ or cur.__context__
    return False


def _plant(tmp_path, tag, req_files, doc_files):
    req = tmp_path / tag / "req"
    docs = tmp_path / tag / "docs"
    req.mkdir(parents=True, exist_ok=True)
    docs.mkdir(parents=True, exist_ok=True)
    for name, rows in req_files:
        _write(req / name, rows)
    for name, rows in doc_files:
        _write(docs / name, rows)


@pytest.mark.slow
def test_composition_crash_restart_equals_uninterrupted(
        spark, tmp_path, monkeypatch):
    last = None
    for attempt in range(3):
        try:
            _crash_restart_body(spark, tmp_path / f"try{attempt}",
                                monkeypatch, vtag=attempt)
            return
        except BaseException as e:      # noqa: BLE001 — filtered below
            monkeypatch.undo()
            if attempt < 2 and _is_transient_env(e):
                last = e
                continue
            raise
    raise last


def _crash_restart_body(spark, tmp_path, monkeypatch, vtag):
    tmp_path.mkdir(parents=True, exist_ok=True)
    # ---- run A: uninterrupted, all inputs present from the start
    _plant(tmp_path, "a", [("f1.json", REQ_F1), ("f2.json", REQ_F2)],
           [("d1.json", DOC_D1), ("d2.json", DOC_D2)])
    pipe_a = _start(spark, tmp_path, "a", f"crash_a{vtag}_trends")
    try:
        pipe_a.wait_for(**_TARGETS)
        _wait_screens(spark, pipe_a)
        want = _state(spark, pipe_a)
    finally:
        pipe_a.stop()

    # ---- run B: crash the whole composition mid-publish of import
    # batch 0, with only half the document corpus ingested
    _plant(tmp_path, "b", [("f1.json", REQ_F1), ("f2.json", REQ_F2)],
           [("d1.json", DOC_D1)])

    real_replace = os.replace

    def crash_on_first_final(src, dst):
        # let the batch-0 manifest commit (the .json rename), then die
        # on the first final-file publication — txn_sink window (b)
        if "txn-" in os.path.basename(str(dst)):
            raise RuntimeError("injected mid-publish crash")
        return real_replace(src, dst)

    monkeypatch.setattr(ts.os, "replace", crash_on_first_final)
    pipe_b = _start(spark, tmp_path, "b", f"crash_b{vtag}_trends")
    sink_path = pipe_b.trades_path
    try:
        q_import = pipe_b.queries[0]
        deadline = time.time() + 90
        while q_import.exception() is None:
            assert time.time() < deadline, "injected crash never fired"
            time.sleep(0.5)
    finally:
        # process death: every query goes down, mid-batch or not
        pipe_b.stop()
    monkeypatch.undo()

    # the crash landed exactly in window (b): batch 0's manifest is
    # durable, yet nothing is visible to readers
    assert os.path.exists(os.path.join(sink_path, "_txn", "batch=0.json"))
    assert ts.TxnParquetTradesSink(sink_path).visible_files() == []

    # ---- restart every query from its checkpoint; the rest of the
    # document corpus arrives after the restart
    _write(tmp_path / "b" / "docs" / "d2.json", DOC_D2)
    pipe_b2 = _start(spark, tmp_path, "b", f"crash_b2{vtag}_trends")
    try:
        pipe_b2.wait_for(**_TARGETS)
        _wait_screens(spark, pipe_b2)
        got = _state(spark, pipe_b2)
    finally:
        pipe_b2.stop()

    # all six durable outputs equal the uninterrupted run (the trends
    # memory view is rebuilt per run, so compare its rows, which both
    # runs derived from identical closed windows)
    assert got == want

    # and the sink's write-once invariant held through the crash: each
    # batch committed exactly once, batch 0 rolled FORWARD from its
    # pre-crash manifest rather than regenerating
    sink = ts.TxnParquetTradesSink(sink_path)
    # batches 0 (the crashed/rolled-forward one) and 1 carry the data;
    # the import query runs no batch without input
    assert sink.committed_batches() == [0, 1]
    visible = sink.visible_files()
    assert len(visible) == len(set(visible)) >= 2
    # staged leftovers are allowed ONLY in recoverable states (stop()
    # can land mid-write of a batch, leaving exactly the residue the
    # sink's crash windows describe): an uncommitted staged dir (no
    # manifest — the replay regenerates it wholesale), or a committed
    # batch whose publish was interrupted (manifest durable; every
    # unpublished final file still has its staged source, so a restart
    # rolls forward).  Any OTHER staged state would be a write-once
    # violation.
    staged_root = os.path.join(sink_path, "_staged")
    committed = set(sink.committed_batches())
    for d in (os.listdir(staged_root) if os.path.isdir(staged_root)
              else []):
        b = int(d.split("=", 1)[1])
        if b not in committed:
            continue               # uncommitted residue: replayable
        with open(os.path.join(sink_path, "_txn",
                               f"batch={b}.json")) as f:
            recorded = json.load(f)
        for staged_rel, final_rel in recorded["files"]:
            assert (os.path.exists(os.path.join(sink_path, final_rel))
                    or os.path.exists(os.path.join(sink_path,
                                                   staged_rel))), \
                f"batch {b}: {final_rel} neither published nor staged"


#: batch 1 carries a request the gate can only reject by counting the
#: three batch-0 entries it reads from batch 0's snapshot (hot's
#: newest entry is batch 0's newest event, so eviction keeps it)
REQ_GATE_F1 = REQ_F1[:3] + [_req("calm", "12-AUG-24 10:01:00", buy=200.0)]
REQ_GATE_F2 = REQ_F2 + [_req("hot", "12-AUG-24 10:01:02", buy=140.0)]


def test_crash_before_gate_snapshot_equals_uninterrupted(
        spark, tmp_path, monkeypatch):
    """Kill the composition after import batch 0's txn-sink commit and
    before the gate publishes batch 0's state snapshot.  The restart
    replays batch 0 against the same (empty) predecessor snapshot —
    the sink's replay is a no-op, the dead letters are rewritten with
    the same rows, the snapshot is published — and batch 1 then
    decides against it: the sink, dead letters and live view equal an
    uninterrupted run's."""
    from currency_market_pulse_spark.streaming.ratelimiter import (
        RateLimitGate,
    )

    def start(tag, view):
        return run_composed_pipeline(
            spark, str(tmp_path / tag / "req"),
            str(tmp_path / tag / "docs"), str(tmp_path / tag / "out"),
            window_ms=1000, limit=2, trends_view=view)

    targets = dict(trades=4, dead=2, windows=1)
    files = [("f1.json", REQ_GATE_F1), ("f2.json", REQ_GATE_F2)]
    _plant(tmp_path, "a", files, [])
    for i, (name, _rows) in enumerate(files):   # f1 is batch 0
        os.utime(tmp_path / "a" / "req" / name, (1_000_000 + i * 100,) * 2)
    pipe_a = start("a", "gate_crash_a")
    try:
        pipe_a.wait_for(**targets)
        want = _import_state(spark, pipe_a)
    finally:
        pipe_a.stop()
    # the batch-1 reject counted batch 0's entries: n = 3 + itself
    assert sorted(r[3] for r in want["dead"]) == [3, 4]

    _plant(tmp_path, "b", files[:1], [])
    real_publish = RateLimitGate.publish

    def crash_before_snapshot(self, gb):
        raise RuntimeError("injected crash before the gate snapshot")

    monkeypatch.setattr(RateLimitGate, "publish", crash_before_snapshot)
    pipe_b = start("b", "gate_crash_b")
    try:
        deadline = time.time() + 90
        while pipe_b.queries[0].exception() is None:
            assert time.time() < deadline, "injected crash never fired"
            time.sleep(0.5)
    finally:
        pipe_b.stop()
    monkeypatch.setattr(RateLimitGate, "publish", real_publish)

    out_b = tmp_path / "b" / "out"
    sink = ts.TxnParquetTradesSink(str(out_b / "trades"))
    assert sink.committed_batches() == [0]
    assert sink.visible_files()
    assert not os.path.exists(out_b / "gateway_state" / "batch_id=0")

    _write(tmp_path / "b" / "req" / "f2.json", REQ_GATE_F2)
    pipe_b2 = start("b", "gate_crash_b2")
    try:
        pipe_b2.wait_for(**targets)
        got = _import_state(spark, pipe_b2)
    finally:
        pipe_b2.stop()
    assert got == want
    assert sink.committed_batches() == [0, 1]
