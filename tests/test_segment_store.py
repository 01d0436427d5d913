"""The segment publication seam (VERDICT r13 directive 2): the
near-dup index's durability contract — durable_publish /
discover_committed — executed against MarkerSegmentStore, which has
NO rename anywhere: per-object copies become visible one at a time,
commit is a single conditional-PUT marker object.  It runs under
injected crashes at every window class (mid-copy, at the commit
boundary, after commit before source cleanup).

The scenario mirrors
test_neardup_stream.py::test_recovery_and_probe_independent_of_listing_order
(minor folds, tier majors, a post-recovery probe) and the assertion is
the same: bit-identical dup logs and standing index contents."""

from __future__ import annotations

import json
import os

import pytest

from currency_market_pulse_spark.streaming.neardup_stream import (
    StreamingNearDup,
)
from currency_market_pulse_spark.streaming.segment_store import (
    InjectedCrash, MarkerSegmentStore,
)

BASE = ("the quick brown fox jumps over the lazy dog while the calm "
        "river flows past the old stone bridge at dawn")
NEAR = BASE.replace("dawn", "dusk")
DISTINCT = ("completely unrelated text about parquet row groups and "
            "shuffle partitions in a distributed query engine runtime")


def _novel(base_id, salt, n=2):
    return [(base_id + i,
             " ".join(f"w{salt}{i}x{j}k{i * 31 + j * 7}"
                      for j in range(20)))
            for i in range(n)]


#: batch_id -> rows; compact_every=2 makes batches 2/4/6 compact,
#: max_segments=2 forces tier (major) merges inside the run
_BATCHES = {0: [(1, BASE)], 1: [(2, DISTINCT)],
            2: _novel(10, "a"), 3: [(30, NEAR)],
            4: _novel(40, "b"), 5: [(50, BASE)],
            6: _novel(60, "c"),
            7: [(70, NEAR.replace("dusk", "noon"))]}


def _mk_nd(tmp_path, tag, store):
    return StreamingNearDup(
        bands_path=str(tmp_path / f"{tag}_bands"),
        shingles_path=str(tmp_path / f"{tag}_shingles"),
        hashes_path=str(tmp_path / f"{tag}_hashes"),
        dups_path=str(tmp_path / f"{tag}_dups"),
        compact_every=2, max_segments=2, n_buckets=4,
        segment_store=store)


def _state(nd, spark):
    return (
        sorted((r.new_id, r.dup_of, round(r.jaccard, 6))
               for r in nd.read_dups(spark).collect()),
        sorted(map(tuple, nd.read_bands(spark).collect())),
        sorted(map(tuple, nd.read_hashes(spark).collect())),
        nd.read_shingles(spark).count(),
    )


def _run(spark, tmp_path, tag, store_fn, crash_at=None):
    """Run the scenario under store_fn()-built stores.  With
    ``crash_at`` = the 1-based index of the fault-hook invocation to
    crash on, the run takes one InjectedCrash, then 'restarts' (a
    fresh handler + fault-free store on the same paths — the
    streaming engine would likewise replay the crashed batch) and
    finishes."""
    calls = {"n": 0, "labels": []}

    def fault(label):
        calls["n"] += 1
        calls["labels"].append(label)
        if crash_at is not None and calls["n"] == crash_at:
            raise InjectedCrash(f"{label} (call {calls['n']})")

    nd = _mk_nd(tmp_path, tag, store_fn(fault))
    crashed = None
    for b in sorted(_BATCHES):
        df = spark.createDataFrame(_BATCHES[b],
                                   "doc_id long, text string")
        try:
            nd.process_batch(df, b)
        except InjectedCrash as e:
            assert crash_at is not None, f"unexpected crash: {e}"
            crashed = (b, str(e))
            # restart: new handler, fault-free store, same paths; the
            # engine replays the crashed batch (foreachBatch redelivers)
            nd = _mk_nd(tmp_path, tag, store_fn(lambda _l: None))
            nd.process_batch(df, b)
    if crash_at is not None:
        assert crashed is not None, (
            f"crash_at={crash_at} never fired ({calls['n']} calls)")
    return _state(nd, spark), calls["labels"], crashed


def _assert_scenario_bit(state):
    dups, _bands, hashes, _n_sh = state
    flagged = {n for n, _, _ in dups}
    # exact copy 50 and near-dups 30/70 flagged; novel content indexed
    assert {30, 50, 70} <= flagged
    assert 1 in [d for _n, d, _j in dups]
    assert 50 not in hashes  # exact copies are never indexed


@pytest.mark.parametrize("window", [
    pytest.param("first_copy", marks=pytest.mark.slow),
    "first_marker",
    pytest.param("last_marker", marks=pytest.mark.slow),
    pytest.param("after_commit", marks=pytest.mark.slow)])
def test_marker_store_crash_windows(spark, tmp_path, window):
    """Recovery equality with NO atomic rename anywhere: crash the
    publish at every window class — mid-copy (some objects visible,
    no commit), just before the commit marker (fully copied,
    uncommitted), and just after it (committed, consumed sources not
    yet deleted) — restart, and require the final state bit-equal to
    the crash-free run."""
    clean_state, labels, _ = _run(
        spark, tmp_path, f"clean_{window}",
        lambda f: MarkerSegmentStore(fault=f))
    idx = {
        "first_copy": labels.index(
            next(l for l in labels if l.startswith("copy:"))),
        "first_marker": labels.index("before_marker"),
        "last_marker": len(labels) - 1
        - labels[::-1].index("before_marker"),
        "after_commit": labels.index("after_marker"),
    }[window]
    crash_state, _, crashed = _run(
        spark, tmp_path, f"crash_{window}",
        lambda f: MarkerSegmentStore(fault=f), crash_at=idx + 1)
    assert crashed is not None
    assert crash_state == clean_state
    _assert_scenario_bit(crash_state)
    # the run exercised real publishes through the marker protocol
    assert any(l.startswith("copy:") for l in labels)
    assert "before_marker" in labels and "after_marker" in labels


def test_committed_excludes_partial_segments(spark, tmp_path):
    """discover_committed never returns a marker-less (partial)
    segment: a reader between a crashed publish and its recovery sees
    only committed data, and recovery then removes the partial."""
    store = MarkerSegmentStore()
    nd = _mk_nd(tmp_path, "part", store)
    for b in (0, 1, 2):   # batch 2 compacts -> segment 2 committed
        nd.process_batch(spark.createDataFrame(
            _BATCHES[b], "doc_id long, text string"), b)
    root = nd.bands_path
    committed_before = store.committed(root)
    assert committed_before, "scenario must have a committed segment"
    before = _state(nd, spark)
    # a crashed publish left a partial, marker-less segment dir
    partial = os.path.join(root, "base", "segment=777")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-fake.parquet"), "w") as f:
        f.write("not parquet — must never be opened")
    assert store.committed(root) == committed_before
    assert _state(nd, spark) == before       # reads skip the partial
    store.clean_uncommitted(root, 777)
    assert not os.path.exists(partial)


def test_marker_commit_is_single_winner(tmp_path):
    """The commit marker is a conditional PUT: once a segment id is
    committed, a second publish of the same id is a no-op that keeps
    the committed bytes (never a silent overwrite)."""
    store = MarkerSegmentStore()
    root = str(tmp_path / "idx")

    def stage(content):
        staged = os.path.join(root, "_staged_probe")
        os.makedirs(staged, exist_ok=True)
        with open(os.path.join(staged, "data.parquet"), "w") as f:
            f.write(content)
        return staged

    store.publish(root, stage("winner"), 5)
    assert store.is_committed(root, 5)
    store.publish(root, stage("loser"), 5)   # replayed attempt: no-op
    with open(os.path.join(root, "base", "segment=5",
                           "data.parquet")) as f:
        assert f.read() == "winner"
    assert [i for i, _p in store.committed(root)] == [5]


# ---- marker-less segments outside a pending intent ------------------
#
# The only marker-less segment dir that can legitimately exist is the
# partial a pending intent names, while every source it consumes is
# still present.  Any other one (e.g. published by a rename-based
# store, which wrote no marker) may hold rows whose consumed sources
# are gone: skipping it would silently drop them from the probe,
# deleting it would lose them.  Recovery refuses the root instead,
# before it modifies anything.


def _df(spark, b):
    return spark.createDataFrame(_BATCHES[b], "doc_id long, text string")


def _seg(root, sid, marked):
    seg = os.path.join(root, "base", f"segment={sid}")
    os.makedirs(seg)
    with open(os.path.join(seg, "part-0.parquet"), "w") as f:
        f.write("data")
    if marked:
        open(os.path.join(seg, "_committed"), "w").close()
    return seg


def _intent(root, sid, consumed=()):
    with open(os.path.join(root, "_compaction_manifest"), "w") as f:
        json.dump({"segment": sid, "consumed": list(consumed)}, f)


def _tree(*roots):
    """Every file under ``roots`` with its bytes."""
    out = {}
    for r in roots:
        for d, _sub, files in os.walk(r):
            for f in files:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[p] = fh.read()
    return out


def test_protocol_mismatch_refused_and_nondestructive(spark, tmp_path):
    """An index whose committed segments carry no commit marker (what
    a rename-based publication protocol leaves behind) is refused on
    the first ``process_batch`` — and, critically, NOTHING under it is
    deleted or written: no probe, no tail, no sweep."""
    nd = _mk_nd(tmp_path, "pm", MarkerSegmentStore())
    for b in (0, 1, 2):          # batch 2 compacts -> committed segs
        nd.process_batch(_df(spark, b), b)
    roots = (nd.bands_path, nd.shingles_path, nd.hashes_path)
    for root in roots:
        segs = MarkerSegmentStore().committed(root)
        assert segs, "scenario must commit a segment"
        for _sid, seg in segs:    # strip the commit records
            os.remove(os.path.join(seg, "_committed"))
    before = _tree(*roots, nd.dups_path)
    nd2 = _mk_nd(tmp_path, "pm", MarkerSegmentStore())  # same paths
    with pytest.raises(ValueError, match="commit marker"):
        nd2.process_batch(_df(spark, 3), 3)
    assert _tree(*roots, nd.dups_path) == before


def test_legacy_unstamped_root_owned_by_rename(tmp_path):
    """A root populated by a rename-based protocol (segments, no
    commit markers, no intent) is refused by recovery, and refused
    again on every reopen — the segment is never deleted."""
    nd = _mk_nd(tmp_path, "legacy", MarkerSegmentStore())
    root = nd.bands_path
    seg = _seg(root, 0, marked=False)
    for _ in range(2):
        with pytest.raises(ValueError, match="commit marker"):
            nd._recover_root(root)
        with open(os.path.join(seg, "part-0.parquet")) as f:
            assert f.read() == "data"
    assert os.listdir(os.path.join(root, "base")) == ["segment=0"]
    # the upgrade (RENAME_ROOT_UPGRADE): mark the segment committed
    open(os.path.join(seg, "_committed"), "w").close()
    nd._recover_root(root)
    assert [i for i, _ in nd.segment_store.committed(root)] == [0]


def test_legacy_marker_root_adopted_by_marker_store(tmp_path):
    """A root written before stamps existed whose segments all carry
    ``_committed`` markers is the marker store's own: recovery opens
    it as is, every segment stays committed, and no stamp or other
    file is added (recovery is idempotent)."""
    nd = _mk_nd(tmp_path, "legmk", MarkerSegmentStore())
    root = nd.bands_path
    for sid in (0, 1):
        _seg(root, sid, marked=True)
    before = _tree(root)
    for _ in range(2):
        nd._recover_root(root)
        assert [i for i, _ in nd.segment_store.committed(root)] == [0, 1]
        assert _tree(root) == before


def test_legacy_mixed_root_refused_without_intent(tmp_path):
    """Mixed commit records (some segments marked, some not) with no
    pending intent explaining the gap: the marker-less dir may hold
    rows that exist nowhere else, so recovery refuses the root and
    deletes nothing — manual intervention required."""
    nd = _mk_nd(tmp_path, "legmix", MarkerSegmentStore())
    root = nd.bands_path
    for sid, marked in ((0, True), (1, False)):
        _seg(root, sid, marked)
    before = _tree(root)
    with pytest.raises(ValueError, match="commit marker"):
        nd._recover_root(root)
    assert _tree(root) == before


def test_legacy_all_unmarked_with_intent_refused(tmp_path):
    """An all-unmarked root with a pending intent: recovery may drop
    only a partial it can prove is marker publication's crash window —
    the ONE segment the intent names, with every consumed source still
    present (marker publication deletes them only after the marker
    exists).  Otherwise the root is refused before anything is
    modified, and kept byte for byte:

    - the intent names a DIFFERENT segment (explains none of them);
    - the intent names the segment but some consumed source is gone
      (a rename-committed segment caught mid-delete: its rows exist
      nowhere else);
    - the intent names one segment and another is unmarked;
    - the root is stamped by the rename store (its segments were
      committed by existing)."""
    cases = (("foreign", [3], 99, [], None),
             ("gone", [3], 3, ["tail/batch_id=0"], None),
             ("own", [3, 4], 3, [], None),
             ("stamped", [3], 3, [], "rename"))
    for tag, sids, pending, consumed, stamp in cases:
        nd = _mk_nd(tmp_path, tag, MarkerSegmentStore())
        root = nd.bands_path
        for sid in sids:
            _seg(root, sid, marked=False)
        _intent(root, pending, consumed)
        if stamp is not None:
            with open(os.path.join(root, "_store_protocol"), "w") as f:
                f.write(stamp)
        before = _tree(root)
        with pytest.raises(ValueError, match="commit marker"):
            nd._recover_root(root)
        assert _tree(root) == before, tag


def test_clean_uncommitted_scoped_to_intent_segment(tmp_path):
    """Recovery's sweep is scoped to the segment a pending intent
    names: a marker-less dir with a DIFFERENT id is untouched (it is
    not provably a crashed publish of this store)."""
    store = MarkerSegmentStore()
    root = str(tmp_path / "sc")
    for sid in (5, 7):
        d = os.path.join(root, "base", f"segment={sid}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("partial")
    store.clean_uncommitted(root, 5)
    assert not os.path.exists(os.path.join(root, "base", "segment=5"))
    assert os.path.exists(os.path.join(root, "base", "segment=7"))


@pytest.mark.slow
def test_backfill_marker_store_crash_then_rerun(spark, tmp_path):
    """A backfill seeding through the marker store that crashes
    mid-publish is re-runnable: the fresh-index gate first rolls the
    crashed seed back (intent-scoped), then the rerun succeeds and
    matches a crash-free marker backfill bit-for-bit."""
    from currency_market_pulse_spark.streaming.backfill import (
        backfill_bootstrap,
    )
    docs = spark.createDataFrame(
        _novel(100, "s", 4) + [(200, BASE), (201, NEAR)],
        "doc_id long, text string")

    def run(tag, store):
        nd = _mk_nd(tmp_path, tag, store)
        dups = sorted((r.new_id, r.dup_of, round(r.jaccard, 6))
                      for r in backfill_bootstrap(nd, docs).collect())
        return nd, dups

    calls = {"n": 0}

    def crash_first_marker(label):
        if label == "before_marker":
            calls["n"] += 1
            if calls["n"] == 1:
                raise InjectedCrash(label)

    nd_crash = _mk_nd(tmp_path, "bfc",
                      MarkerSegmentStore(fault=crash_first_marker))
    with pytest.raises(InjectedCrash):
        backfill_bootstrap(nd_crash, docs)
    # rerun on the same paths with a healthy store
    nd2, dups2 = run("bfc", MarkerSegmentStore())
    _nd_clean, dups_clean = run("bfclean", MarkerSegmentStore())
    assert dups2 == dups_clean
    assert _state(nd2, spark)[1:] == _state(_nd_clean, spark)[1:]


def test_legacy_mixed_root_with_intent_is_marker_crash(tmp_path):
    """Mixed commit records WHERE the marker-less segment is exactly
    the one a pending intent names, with its consumed sources all
    present: that is marker publication's one legal crash window
    (intents clear only after commit), so recovery deletes that
    partial and clears the intent instead of refusing the root; the
    committed segment and the sources stay."""
    nd = _mk_nd(tmp_path, "legcrash", MarkerSegmentStore())
    root = nd.bands_path
    paths = {sid: _seg(root, sid, marked)
             for sid, marked in ((0, True), (1, False))}
    src = os.path.join(root, "tail", "batch_id=0")
    os.makedirs(src)
    _intent(root, 1, ["tail/batch_id=0"])
    nd._recover_root(root)
    assert not os.path.exists(paths[1])
    assert not os.path.exists(os.path.join(root, "_compaction_manifest"))
    assert os.path.exists(os.path.join(paths[0], "part-0.parquet"))
    assert os.path.isdir(src)
    assert [i for i, _ in nd.segment_store.committed(root)] == [0]


# ---- stale-listing fault injection (VERDICT r15 directive 5) --------
#
# The marker store's object-store claim rests on conditional-PUT plus
# discovery that does NOT require listing freshness.  These tests
# inject the two staleness directions an eventually-consistent store
# exhibits — a LIST missing a freshly-PUT prefix, and a marker HEAD
# lagging its PUT — and assert the probe-side contract: discovery
# never serves uncommitted bytes, and a committed segment is missed
# for at most the staleness window (it appears the moment the
# listing settles; nothing is permanently skipped).

from dataclasses import dataclass, field  # noqa: E402


@dataclass
class _StaleListingStore(MarkerSegmentStore):
    """MarkerSegmentStore whose DISCOVERY simulates an eventually-
    consistent object store: paths in ``hide`` stay invisible to
    ``committed()`` for the given number of ``settle()`` rounds (a
    LIST missing a new prefix, or a negative-cached marker HEAD),
    while the underlying bytes are fully durable.  Publication and
    recovery are untouched — only the reader seam is stale."""

    hide: dict = field(default_factory=dict)   # path -> rounds left

    def _visible(self, path: str) -> bool:
        return self.hide.get(path, 0) <= 0

    def settle(self) -> None:
        """One consistency round passes."""
        for k in list(self.hide):
            if self.hide[k] > 0:
                self.hide[k] -= 1

    def committed(self, root):
        base = os.path.join(root, "base")
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            if not d.startswith("segment="):
                continue
            seg = os.path.join(base, d)
            if not self._visible(seg):          # stale LIST
                continue
            marker = os.path.join(seg, "_committed")
            if os.path.exists(marker) and self._visible(marker):
                out.append((int(d.split("=", 1)[1]), seg))
        return sorted(out)


def test_stale_discovery_never_serves_uncommitted_and_converges(
        tmp_path):
    """Store level, both staleness directions.  Direction 1: segment
    files listed but the commit marker HEAD lags -> the segment is
    absent from committed() (indistinguishable from uncommitted, so
    never read half-published) and appears the round the HEAD
    settles.  Direction 2: the marker is durable but the LIST misses
    the segment prefix -> same.  A genuinely uncommitted partial is
    excluded in EVERY round."""
    store = _StaleListingStore()
    root = str(tmp_path / "idx")
    for sid in (0, 1):
        staged = str(tmp_path / f"stage{sid}")
        os.makedirs(staged)
        with open(os.path.join(staged, "part-0.parquet"), "w") as f:
            f.write(f"data{sid}")
        store.publish(root, staged, sid)
    partial = os.path.join(root, "base", "segment=9")
    os.makedirs(partial)
    open(os.path.join(partial, "part-0.parquet"), "w").close()

    assert [i for i, _ in store.committed(root)] == [0, 1]
    # direction 1: marker HEAD lags one round
    store.hide = {os.path.join(root, "base", "segment=1",
                               "_committed"): 1}
    assert [i for i, _ in store.committed(root)] == [0]
    store.settle()
    assert [i for i, _ in store.committed(root)] == [0, 1]
    # direction 2: LIST misses the new segment prefix
    store.hide = {os.path.join(root, "base", "segment=0"): 1}
    assert [i for i, _ in store.committed(root)] == [1]
    store.settle()
    assert [i for i, _ in store.committed(root)] == [0, 1]
    # the marker-less partial never surfaced in any round above
    assert all(9 not in [i for i, _ in store.committed(root)]
               for _ in range(2))


@pytest.mark.slow
def test_probe_under_stale_listing_misses_at_most_one_trigger(
        spark, tmp_path):
    """Probe level: a trigger inside the staleness window reads a
    SMALLER committed set — an exact copy of compacted standing
    content goes unflagged, the eventual-consistency tax — but never
    reads uncommitted bytes and never crashes; the NEXT trigger sees
    the settled index and flags an identical copy.  Nothing is
    permanently skipped."""
    store = _StaleListingStore()
    nd = _mk_nd(tmp_path, "stale", store)
    for b in (0, 1, 2):       # batch 2 compacts 0,1 into base segments
        nd.process_batch(
            spark.createDataFrame(_BATCHES[b],
                                  "doc_id long, text string"), b)
    hidden = {}
    for root in (nd.hashes_path, nd.bands_path, nd.shingles_path):
        base = os.path.join(root, "base")
        for d in os.listdir(base):
            if d.startswith("segment="):
                hidden[os.path.join(base, d, "_committed")] = 1
    assert hidden, "scenario must have committed segments to hide"
    store.hide = hidden

    # trigger during staleness: an exact copy of compacted doc 1
    nd.process_batch(spark.createDataFrame(
        [(99, BASE)], "doc_id long, text string"), 3)
    dups = {r.new_id: r.dup_of for r in nd.read_dups(spark).collect()}
    assert 99 not in dups       # the window's miss — bounded to it

    store.settle()              # listings converge
    nd.process_batch(spark.createDataFrame(
        [(98, BASE)], "doc_id long, text string"), 4)
    dups = {r.new_id: r.dup_of for r in nd.read_dups(spark).collect()}
    assert dups.get(98) == 1    # settled index serves the match again
