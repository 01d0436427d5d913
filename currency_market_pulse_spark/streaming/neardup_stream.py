"""Streaming near-duplicate detection: every micro-batch of documents
probes the standing MinHash band index for near-dups against the
already-ingested corpus, then appends its own bands + shingles to the
index — the streaming run-loop of the incremental dedup shape
(queries/dedup.py dedup_incremental documents the batch-vs-corpus
cost argument; this module is what executes it continuously).

Standing-index layout (VERDICT r10 directive 1 — the pre-r11 version
re-read the ENTIRE flat index every micro-batch, measured as the
composed pipeline's saturation point at p95 11.5x the trigger budget):
each of the THREE relations — bands, shingles, and the exact-hash
relation (doc_id, md5(text)) that powers the exact fast path — is a
two-tier LSM-style store under its root —

- ``tail/batch_id=<id>/``   one coalesced file per micro-batch: the
  recent, not-yet-compacted appends.  Bounded: at most
  ``compact_every`` batch dirs ever accumulate.
- ``base/segment=<n>/<bucket>=<b>/``  immutable compacted segments,
  hash-bucketed by the PROBE KEY — ``sig_bucket =
  pmod(xxhash64(band, band_sig), n_buckets)`` for bands,
  ``id_bucket = pmod(doc_id, n_buckets)`` for shingles,
  ``h_bucket`` (first 8 hex chars of the md5, so the probe can
  derive it driver-side) for hashes — and sorted by it within each
  file.

Probe order is the production ingest-dedup order: EXACT first (md5 of
the full text against the standing hash relation — no shingling, no
minhash, no verify; jaccard is 1.0 by construction), then the minhash
band probe over only the exact-novel remainder.  Exact copies are NOT
appended to the index: exact equality is transitive, so a future copy
still matches the first-ingested document's hash — the standing index
grows with NOVEL content, not with ingest volume.  (One documented
consequence: a document with an exact standing match is reported
against its hash-equal match even if some other standing document
ties at jaccard 1.0 with a different shingle SET — both are correct
best matches at the threshold.)

The probe then reads ``base`` with a partition filter on the batch's
touched buckets (plan shows ``PartitionFilters: [sig_bucket IN
(...)]`` — only matching directories are scanned) plus the bounded
tail, and the batch side of the candidate join is broadcast so the
standing relation never shuffles.  The verify leg is pruned harder
still: it runs ONLY when the band probe produced candidates, reads
only the id buckets those candidates live in, and (when the candidate
set is small enough to collect) pushes a ``doc_id IN (...)`` filter
into the scan.  Per-batch cost is thus bounded by file-count-bounded
overhead plus bytes in MATCHING buckets — not by total index size
(tools/stream_bench.py's pre-seeded scenario measures exactly this
axis).

Compaction (every ``compact_every`` batches, inside process_batch so
it needs no side scheduler) folds committed tail dirs into a NEW base
segment — segments are immutable, so a minor compaction costs
O(tail), not O(index).  When the segment count exceeds
``max_segments``, SIZE-TIERED major compaction runs as carry
propagation: merge the two smallest segments plus every next-larger
one that is no bigger than the group's running sum (equals merge
with equals; a big old segment is never dragged into a merge of
small newcomers), repeating until within budget — each ingested byte
is rewritten O(log(index / segment)) times instead of the
O(index / tail) a merge-all policy pays (SCALE.md Round 12: 3.77 vs
8.35 rows rewritten per ingested row, bit-identical indexes;
tools/compaction_bench.py measures the tiered write amplification on
real index data).  Tier-merge segments take ids from a reserved range
(>= 10**12) so they can never collide with minor segments, whose id
IS the compacting batch id (replay-idempotency relies on that).

Bucket-count scaling: each segment records its own bucket count in a
``_meta.json`` written into the staged segment directory BEFORE
publication (so it travels with the data through every crash
window).  At compaction time the new segment's count is sized from
its input bytes — ``next_pow2(bytes / target_bucket_bytes)`` clamped
to [``n_buckets``, ``max_buckets``] — so a 100x-grown index gets
proportionally more buckets and the probe's pruning fraction stays
~constant instead of flooring at 1/n_buckets.  The probe unions the
touched-bucket lists computed under every bucket count present among
segments: for each segment its true matching bucket is always in the
union (correctness), and the only cost of mixed generations is a
bounded over-read of old small segments until the next merge
re-buckets them.

Crash-safety is an intent-manifest protocol for append-only
segments: write the new segment to a hidden tmp dir, durably record intent (a manifest
listing the consumed dirs), PUBLISH through the segment store's
commit point, THEN delete the consumed dirs.  Publication and
discovery go through the ``segment_store`` seam
(streaming/segment_store.py): MarkerSegmentStore publishes with
per-object copies plus a conditional-PUT commit marker, no rename
anywhere, so the same protocol runs on POSIX disks and object stores
— recovery equality is test-pinned under injected crashes
(tests/test_segment_store.py).  ``_recover_root`` runs at the top of
every batch: intent without the store's commit record => the publish
never committed, drop staging and the uncommitted partial (every row
still lives in its consumed dir); intent with it => finish the
deletes.  Any OTHER marker-less segment, or an intent whose consumed
sources are partly gone, is refused before anything is modified, not
skipped: its rows may exist nowhere else.  At no point does a reader
see a row in zero or two places, and reads list COMMITTED segments only
(partially-uploaded dirs are visible to listings;
``discover_committed`` excludes them).

Replay interplay: only batch ids STRICTLY BELOW the current one are
ever compacted — Structured Streaming can only replay the newest
batch (delivering batch N commits N-1), so a compacted dir can never
be re-written; a crash-replayed compacting batch finds its segment
already present and skips.

Idempotency contract (the importer's batch-id discipline,
streaming/importer.py): every tail write lands under batch_id=<id>
with dynamic partition overwrite, and a replayed batch EXCLUDES its
own prior writes from the probe — so crash-replay neither duplicates
index rows nor flags a document against its own previous ingest.

Within-batch near-dups are ALSO flagged (batch-internal band self-join
+ verify, lower doc_id wins), so a batch carrying two copies of a new
document does not ingest both silently — the dup log's best-match rank
runs over the union of batch-vs-corpus and batch-internal hits.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.functions.text import tokens
from currency_market_pulse_spark.operators import dedup as D
from currency_market_pulse_spark.streaming.segment_store import (
    MarkerSegmentStore,
)

# Explicit index schemas: the standing relations are read with these
# instead of inference, so a dataset whose only partitions so far are
# EMPTY (zero dups, or every doc shorter than the shingle width —
# dynamic-partition-overwrite then writes no parquet footers at all)
# still reads back as a valid empty relation instead of failing with
# "unable to infer schema".
_BANDS_DATA = "doc_id bigint, band int, band_sig string"
_SHINGLES_DATA = "doc_id bigint, n_sh bigint, sh string"
_HASHES_DATA = "doc_id bigint, h string"
_DUPS_SCHEMA = ("new_id bigint, dup_of bigint, jaccard double, "
                "batch_id bigint")

# ---- driver-side verify math (r18, VERDICT r17 item 6) --------------
#
# The dict-path probe already collects the micro-batch's band AND
# shingle relations to the driver (they are written back as index
# tails via pyarrow).  The batch-internal LSH verify therefore needs
# ZERO further Spark jobs — candidate pairs and exact jaccard are a
# few dict operations over data already in hand — and the cross-corpus
# verify needs exactly TWO light jobs (probe the touched band buckets;
# fetch the candidates' standing shingle rows) instead of the previous
# candidate-id collect + multi-exchange verify-join plan.  The math
# below is the bit-exact twin of the JVM verify (pinned by
# tests/test_neardup_stream.py::test_collect_cap_path_matches against
# the all-Spark distributed path, and by the probe bench's dup-log
# byte-equality compare).

_Q6 = Decimal("0.000001")


def _round6_half_up(x: float) -> float:
    """Spark's ``round(col, 6)`` on DOUBLE, exactly: Java rounds
    BigDecimal.valueOf(x) — the SHORTEST decimal that round-trips,
    which is also what Python's repr() produces — with HALF_UP."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def _py_band_pairs(doc_vals: list, band_vals: list,
                   sig_vals: list) -> set:
    """pairs_from_bands over collected band rows: equal
    (band, band_sig) groups, all (a < b) pairs, dedup'd across bands —
    the same pair set the JVM self-join emits."""
    groups: dict = defaultdict(set)
    for d, b, s in zip(doc_vals, band_vals, sig_vals):
        if s is None:
            # a NULL band_sig (a doc with no shingles) never matches
            # in the JVM equi-join; a dict key would wrongly group them
            continue
        groups[(b, s)].add(d)
    pairs: set = set()
    for ids in groups.values():
        if len(ids) < 2:
            continue
        ordered = sorted(ids)
        for i, a in enumerate(ordered):
            for b in ordered[i + 1:]:
                pairs.add((a, b))
    return pairs


def _py_shingle_map(tbl) -> dict:
    """{doc_id: (n_sh, set-of-shingles)} from a collected
    (doc_id, n_sh, sh) Arrow table.  ``sh`` rows are distinct per doc
    by construction (shingles_from_tokens explodes array_distinct);
    the NULL row an empty doc carries (explode_outer) is skipped —
    the JVM verify's equi-join never matches NULL either.

    The standing index holds ONE generation of each doc: rows of one
    doc_id with two ``n_sh`` values raise, because the JVM verify
    groups by (doc_id, n_sh) and would split such a doc where this map
    merges it."""
    out: dict = {}
    for d, n, s in zip(tbl.column("doc_id").to_pylist(),
                       tbl.column("n_sh").to_pylist(),
                       tbl.column("sh").to_pylist()):
        ent = out.get(d)
        if ent is None:
            ent = out[d] = (n, set())
        elif ent[0] != n:
            raise ValueError(
                f"doc {d} has two generations in the shingle index "
                f"(n_sh {ent[0]} and {n})")
        if s is not None:
            ent[1].add(s)
    return out


def _py_jaccard_hits(pairs, a_map: dict, b_map: dict,
                     threshold: float) -> list:
    """[(id_a, id_b, jaccard)] for every pair whose exact jaccard —
    |A∩B| / (n_a + n_b - |A∩B|), rounded like the JVM — passes the
    threshold.  Pairs with zero common shingles emit nothing, exactly
    like the verify join (no matching rows => no group)."""
    out = []
    for ia, ib in pairs:
        ea, eb = a_map.get(ia), b_map.get(ib)
        if ea is None or eb is None:
            continue
        sa, sb = ea[1], eb[1]
        n_common = len(sa & sb) if len(sa) <= len(sb) else len(sb & sa)
        if not n_common:
            continue
        j = _round6_half_up(n_common / (ea[0] + eb[0] - n_common))
        if j >= threshold:
            out.append((ia, ib, j))
    return out

#: candidate sets larger than this are not collected to the driver —
#: the verify read then falls back to bucket pruning + the semi-join
#: prune alone (still exact, just no pushed doc_id IN filter).
_CAND_COLLECT_CAP = 100_000

#: driver-side cross-verify regime bound (r18): up to this many
#: DISTINCT candidate corpus docs, the probe fetches their standing
#: shingle rows to the driver and verifies in Python (two light jobs);
#: above it, the all-Spark verify plan runs instead — the shingle
#: volume of >5k docs is real data the driver should not hold.
_STD_FETCH_CAP = 5_000

_TMPSEG = "_compacting_segment"
_SEGMETA = "_meta.json"
#: how to open a root published by the rename segment store, which
#: older versions used by default and which wrote no commit markers
#: (a visible segment dir was committed by existing)
RENAME_ROOT_UPGRADE = (
    "To upgrade a root published by the rename segment store, once, "
    "with the pipeline stopped: if _compaction_manifest exists and "
    "base/segment=<its segment> exists, delete every path its "
    "consumed list names; delete _compacting_segment and "
    "_compaction_manifest; create an empty _committed file in every "
    "base/segment=* dir; delete _store_protocol if present; restart.  "
    "Any other root: inspect it by hand.")
#: how to open a root written with the removed ``shards`` option,
#: whose data lives under ``shard=<k>/`` where nothing reads it
SHARDED_ROOT_UPGRADE = (
    "To upgrade an index written with shards > 1, once, with the "
    "pipeline stopped: move idx_bands, idx_shingles, idx_hashes and "
    "dups out of the out-dir; rebuild them with `python -m "
    "currency_market_pulse_spark backfill --docs-path <the documents "
    "of every doc batch ckpt_docs/commits records> --index-dir "
    "<out-dir>`; restart.  Or start on a fresh out-dir (README).")


def refuse_sharded_roots(*roots: str) -> None:
    """Raise ``ValueError``, touching nothing, when a band or shingle
    root holds ``shard=<k>`` dirs.  The index reads only
    ``<root>/base`` and ``<root>/tail``, so probing such a root would
    read every document as novel and drop its dups silently."""
    for root in roots:
        try:
            names = os.listdir(root)
        except OSError:
            continue
        sharded = sorted(n for n in names if n.startswith("shard="))
        if sharded:
            raise ValueError(
                f"index root {root!r} holds shard dirs {sharded} from "
                "the removed shards option; this version reads only "
                "its base/ and tail/.  " + SHARDED_ROOT_UPGRADE)


#: tier-merge segments take ids from here up — minor segments' id IS
#: the compacting batch id (replay idempotency keys on it), so the
#: ranges must never collide; 10**12 batch ids at a 1 s trigger is
#: ~31,000 years of uptime.
_TIER_SEG_BASE = 10 ** 12


def _next_pow2(x: int) -> int:
    return 1 << max(0, int(x - 1).bit_length())


def _carry_pick(sizes: list[int]) -> list[int]:
    """Indices (into ``sizes``) of the segments a carry merge folds:
    the two smallest, plus each next-larger one that is no bigger
    than the group's running sum.  Pure function — property-tested in
    tests/test_neardup_stream.py (termination, monotone selection,
    the largest segment spared whenever it dominates the rest)."""
    order = sorted(range(len(sizes)), key=lambda i: (sizes[i], i))
    picked = order[:2]
    total = sum(sizes[i] for i in picked)
    for i in order[2:]:
        if sizes[i] > total:
            break
        picked.append(i)
        total += sizes[i]
    return picked


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def _dir_rows(path: str) -> int:
    """Row count of a parquet dir from the file footers alone —
    driver-side metadata reads, no Spark job.  Rows (not bytes) drive
    the carry-merge guard: per-file footer/dictionary overhead floors
    a tiny segment at a few KB per bucket file, which at 1-batch
    compaction granularity makes every segment look byte-similar and
    degenerates carry selection toward merge-all (measured: write amp
    7.1 with a byte guard vs 8.6 merge-all at 100 unit minors; the
    row guard restores the simulated O(log) behavior)."""
    total = 0
    import pyarrow.parquet as pq
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                try:
                    total += pq.read_metadata(
                        os.path.join(root, n)).num_rows
                except OSError:
                    pass
    return total


def _sig_bucket(n: int) -> "F.Column":
    return F.pmod(F.xxhash64("band", "band_sig"), F.lit(n)).cast("int")


def _id_bucket(n: int) -> "F.Column":
    return F.pmod(F.col("doc_id"), F.lit(n)).cast("int")


def _h_bucket(n: int) -> "F.Column":
    """Bucket of an md5 hex string — the first 8 hex chars as an int,
    chosen because the probe must derive the SAME bucket driver-side
    from collected hash values (``_h_bucket_py``)."""
    return F.pmod(F.conv(F.substring(F.col("h"), 1, 8), 16, 10)
                  .cast("long"), F.lit(n)).cast("int")


def _h_bucket_py(h: str, n: int) -> int:
    return int(h[:8], 16) % n


def _tail_dirs(root: str) -> list[tuple[int, str]]:
    tail = os.path.join(root, "tail")
    if not os.path.isdir(tail):
        return []
    out = []
    for d in os.listdir(tail):
        if d.startswith("batch_id="):
            out.append((int(d.split("=", 1)[1]), os.path.join(tail, d)))
    return sorted(out)


@dataclass
class StreamingNearDup:
    """foreachBatch handler maintaining the incremental dedup index.

    Outputs per batch: ``dups_path`` gains one batch_id partition of
    (new_id, dup_of, jaccard) — each flagged document's best standing
    match at ``threshold`` — while ``bands_path`` / ``shingles_path``
    gain the batch's index contribution (tail tier; see the module
    docstring for the two-tier layout and compaction)."""

    bands_path: str
    shingles_path: str
    dups_path: str
    threshold: float = 0.5
    #: bucket-count FLOOR for new segments (and the assumed count for
    #: pre-r12 segments without ``_meta.json``); segments written at
    #: compaction scale their own count up from input bytes — see
    #: target_bucket_bytes / max_buckets and the module docstring.
    n_buckets: int = 8
    compact_every: int = 32
    max_segments: int = 8
    #: standing (doc_id, md5(text)) relation for the exact fast path;
    #: defaults to a sibling of bands_path
    hashes_path: str | None = None
    #: sizing rule for a new segment's bucket count:
    #: n = next_pow2(input_bytes / target_bucket_bytes) clamped to
    #: [n_buckets, max_buckets].  At 8 MiB per bucket a 1 GiB segment
    #: gets 128 buckets, so the probe keeps scanning ~batch-touched
    #: megabytes as the index grows 100x, instead of 1/8th of it.
    target_bucket_bytes: int = 8 << 20
    max_buckets: int = 1024
    #: micro-batches with more rows than this take the fully
    #: distributed exact stage (window-owner + anti-join) instead of
    #: the driver-side (doc_id, md5) bookkeeping — identical output,
    #: a few more Spark jobs; below the cap the driver dict path is
    #: faster per batch (measured: the bookkeeping is ~ms at 1-10 k
    #: rows but would be per-row Python work at a 100 k-row trigger).
    hash_collect_cap: int = 50_000
    #: companion volume guard (VERDICT r15 "what's wrong 2"): the
    #: dict path collects the batch's SHINGLE relation driver-side,
    #: which scales with characters, not rows — a few maximal-length
    #: docs under the row cap could still put gigabytes on the
    #: driver.  Batches whose summed text length exceeds this take
    #: the distributed path regardless of row count; the proxy is
    #: collected in the same first job (a length column riding along
    #: on the hash collect), so the guard costs zero extra jobs.
    collect_volume_chars: int = 256 << 20
    #: optional JSONL file recording every segment write as it
    #: happens ({wall, relation, segment, kind minor|major, consumed,
    #: rows}) — the ops/bench timeline (tools/stream_bench.py soak
    #: mode asserts majors fired inside the live pipeline).  Appended
    #: driver-side from the single foreachBatch thread; None = off.
    events_path: str | None = None
    #: segment publication/discovery seam (streaming/segment_store.py):
    #: None = MarkerSegmentStore (per-object PUTs + conditional-PUT
    #: commit marker, no rename anywhere).  Tests pass fault-hooked or
    #: stale-listing subclasses here.
    segment_store: "MarkerSegmentStore | None" = None
    #: ops introspection: after every process_batch, a dict of
    #: {stage: seconds} wall timings for the batch's driver-side
    #: sections (recover, exact collects, probe, write wave) —
    #: written, never read, by the handler; tools/probe timing and
    #: capacity work read it.  Populated in place (single foreachBatch
    #: thread).
    last_stage_s: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.segment_store is None:
            self.segment_store = MarkerSegmentStore()
        if self.hashes_path is None:
            self.hashes_path = self.bands_path + "_hashes"
        if self.max_segments < 1:
            # a 0/negative budget would make _tier_compact_root loop
            # forever (a 1-segment carry pick rewrites that segment
            # under a fresh tier id without reducing the count)
            raise ValueError(
                f"max_segments must be >= 1, got {self.max_segments}")

    # ---- recovery / discovery through the publication seam ---------

    def _segments(self, root: str) -> list[tuple[int, str]]:
        """discover_committed(): only fully committed segments — a
        partially published one (objects appear one PUT at a time) is
        never read or compacted."""
        return self.segment_store.committed(root)

    def _recover_root(self, root: str) -> None:
        """Roll an interrupted compaction forward or back (module
        docstring protocol), store-agnostically: committed (by the
        store's own commit record) => finish the consumed-source
        deletes; uncommitted => drop staging + the ONE partial the
        intent names (its rows all still live in the consumed
        sources).  Cheap driver-side checks — runs every batch.

        Before changing anything, the root is refused (``ValueError``,
        nothing modified) when recovery cannot prove a marker-less
        ``segment=`` dir is a crashed publish:

        - a marker-less dir that no pending intent names;
        - a pending intent whose consumed sources are partly gone —
          marker publication deletes them only after the marker
          exists, so its segment was committed by another protocol
          and holds rows that exist nowhere else;
        - any marker-less dir in a root stamped by the rename segment
          store (``_store_protocol`` reads ``rename``), whose visible
          segments were committed by existing.

        Such dirs come from the rename-based store older versions
        defaulted to; ``RENAME_ROOT_UPGRADE`` is the one-time fix.
        ``is_committed`` (a HEAD on the marker key) is used, not the
        listing-based ``committed()``, so a stale listing cannot trip
        the check."""
        store = self.segment_store
        intent = store.read_intent(root)
        pending = (intent if intent is not None
                   and not store.is_committed(root, intent["segment"])
                   else None)
        try:
            with open(os.path.join(root, "_store_protocol")) as f:
                rename_root = f.read().strip() == "rename"
        except OSError:
            rename_root = False
        partial = (f"segment={pending['segment']}"
                   if pending is not None and not rename_root else None)
        base = os.path.join(root, "base")
        unmarked = sorted(
            d for d in (os.listdir(base) if os.path.isdir(base) else [])
            if d.startswith("segment=") and d != partial
            and not store.is_committed(root, int(d.split("=", 1)[1])))
        missing = sorted(
            rel for rel in (pending or {}).get("consumed", [])
            if not os.path.exists(os.path.join(root, rel)))
        if unmarked or missing:
            raise ValueError(
                f"index root {root!r} holds segments without a commit "
                f"marker that recovery cannot prove are crashed "
                f"publishes (unexplained: {unmarked}; pending intent's "
                f"missing sources: {missing}).  They may hold rows that "
                "exist nowhere else, so the index refuses to skip or "
                "delete them.  " + RENAME_ROOT_UPGRADE)
        # crashed tail-staging dirs (dot-hidden, never listed by
        # Spark): pure garbage — their batch replays wholesale
        tail = os.path.join(root, "tail")
        if os.path.isdir(tail):
            for d in os.listdir(tail):
                if d.startswith(".tail_staging_"):
                    shutil.rmtree(os.path.join(tail, d),
                                  ignore_errors=True)
        tmp = os.path.join(root, _TMPSEG)
        if intent is None:
            # nothing in flight (intents are cleared only after
            # commit): only pre-intent staging garbage to drop
            shutil.rmtree(tmp, ignore_errors=True)
            return
        if pending is None:
            for rel in intent["consumed"]:
                shutil.rmtree(os.path.join(root, rel),
                              ignore_errors=True)
        else:
            shutil.rmtree(tmp, ignore_errors=True)
            store.clean_uncommitted(root, intent["segment"])
        store.clear_intent(root)

    # ---- standing-index reads -------------------------------------

    def _read_tail(self, spark, root: str, data_schema: str,
                   exclude_batch: int | None = None) -> DataFrame | None:
        # a fresh root has no tail yet: reading the missing dir would
        # fail analysis after Spark logs a stack trace for it
        tail = os.path.join(root, "tail")
        if not os.path.isdir(tail):
            return None
        df = spark.read.schema(data_schema + ", batch_id bigint") \
            .parquet(tail)
        if exclude_batch is not None:
            # replay safety: never probe rows this batch wrote before
            # a crash (partition filter — pruned, not scanned+dropped)
            df = df.filter(F.col("batch_id") != exclude_batch)
        return df.drop("batch_id")

    def _read_base(self, spark, root: str, data_schema: str,
                   bucket_col: str,
                   buckets: list[int] | None = None) -> DataFrame | None:
        # read the COMMITTED segment list, not the base dir wholesale:
        # on a marker store a partially-published segment is visible
        # to listings before its commit marker lands, and must never
        # be scanned (discover_committed contract, segment_store.py).
        segs = self._segments(root)
        if not segs:
            return None
        df = (spark.read
              .schema(f"{data_schema}, segment bigint, {bucket_col} int")
              .option("basePath", os.path.join(root, "base"))
              .parquet(*[p for _i, p in segs]))
        if buckets is not None:
            df = df.filter(F.col(bucket_col).isin(buckets))
        return df.drop("segment", bucket_col)

    def _base_bucket_counts(self, root: str) -> list[int]:
        """Distinct bucket counts among this root's segments (from
        each segment's _meta.json; segments predating the meta file
        are assumed to be at the configured floor).  Bounded by
        max_segments driver-side file reads."""
        ns = set()
        for _i, p in self._segments(root):
            try:
                with open(os.path.join(p, _SEGMETA)) as f:
                    ns.add(int(json.load(f)["n_buckets"]))
            except (OSError, ValueError, KeyError):
                ns.add(self.n_buckets)
        return sorted(ns)

    def _read_index(self, spark, root: str, data_schema: str,
                    bucket_col: str, batch_id: int,
                    buckets: list[int] | None = None) -> DataFrame | None:
        parts = [p for p in (
            self._read_base(spark, root, data_schema, bucket_col, buckets),
            self._read_tail(spark, root, data_schema, batch_id),
        ) if p is not None]
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])

    def read_bands(self, spark) -> DataFrame:
        """The full standing band index (base + tail), data cols only."""
        df = self._read_index(spark, self.bands_path, _BANDS_DATA,
                              "sig_bucket", batch_id=-1)
        return df if df is not None else \
            spark.createDataFrame([], _BANDS_DATA)

    def read_shingles(self, spark) -> DataFrame:
        """The full standing shingle relation (base + tail)."""
        df = self._read_index(spark, self.shingles_path, _SHINGLES_DATA,
                              "id_bucket", batch_id=-1)
        return df if df is not None else \
            spark.createDataFrame([], _SHINGLES_DATA)

    def read_hashes(self, spark) -> DataFrame:
        """The full standing exact-hash relation (base + tail)."""
        df = self._read_index(spark, self.hashes_path, _HASHES_DATA,
                              "h_bucket", batch_id=-1)
        return df if df is not None else \
            spark.createDataFrame([], _HASHES_DATA)

    # ---- compaction ------------------------------------------------

    def _choose_buckets(self, input_bytes: int) -> int:
        """Bucket count for a new segment — next_pow2 of input bytes /
        target_bucket_bytes, clamped to [n_buckets, max_buckets]."""
        n = _next_pow2(max(1, -(-input_bytes // self.target_bucket_bytes)))
        return min(max(n, self.n_buckets), self.max_buckets)

    def _write_segment(self, spark, root: str, data_schema: str,
                       bucket_expr_fn, bucket_col: str,
                       sort_cols: list[str],
                       tails: list[tuple[int, str]],
                       segs: list[tuple[int, str]],
                       segment_id: int) -> None:
        """Fold the given tail dirs + segments into
        ``base/segment=<segment_id>`` under the crash-safe manifest
        protocol (module docstring).  The new segment's bucket count
        is sized from its input bytes and recorded in its _meta.json
        (written into the tmp dir BEFORE publication, so data and
        meta become committed together in every crash window)."""
        consumed = ([os.path.join("tail", os.path.basename(p))
                     for _, p in tails]
                    + [os.path.join("base", os.path.basename(p))
                       for _, p in segs])
        srcs = [spark.read.schema(data_schema).parquet(p)
                for _, p in tails]
        srcs += [spark.read.schema(f"{data_schema}, {bucket_col} int")
                 .parquet(p).drop(bucket_col) for _, p in segs]
        input_bytes = sum(_dir_bytes(p) for _, p in tails + segs)
        n = self._choose_buckets(input_bytes)
        df = srcs[0]
        for s in srcs[1:]:
            df = df.unionAll(s)
        tmp = os.path.join(root, _TMPSEG)
        shutil.rmtree(tmp, ignore_errors=True)
        (df.withColumn(bucket_col, bucket_expr_fn(n))
         .repartition(n, bucket_col)
         .sortWithinPartitions(*sort_cols)
         .write.mode("overwrite").partitionBy(bucket_col).parquet(tmp))
        with open(os.path.join(tmp, _SEGMETA), "w") as f:
            json.dump({"n_buckets": n, "input_bytes": input_bytes}, f)
        # intent -> durable_publish -> delete consumed -> clear: the
        # commit point lives inside the store (the conditional-PUT
        # commit marker, segment_store.py)
        store = self.segment_store
        store.record_intent(root, segment_id, consumed)
        store.publish(root, tmp, segment_id)
        for rel in consumed:
            shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
        store.clear_intent(root)
        if self.events_path:
            import time as _time
            with open(self.events_path, "a") as f:
                f.write(json.dumps({
                    "wall": _time.time(),
                    "relation": os.path.basename(root),
                    "segment": segment_id,
                    "kind": "major" if segs else "minor",
                    "consumed": len(consumed),
                    "input_bytes": input_bytes}) + "\n")

    def _compact_root(self, spark, root: str, data_schema: str,
                      bucket_expr_fn, bucket_col: str,
                      sort_cols: list[str], upto_batch_id: int,
                      segment_id: int) -> bool:
        """Minor compaction: fold tail dirs with id < upto_batch_id
        into base/segment=<segment_id>, then re-tier the segment set
        if it outgrew max_segments.  Returns whether a minor segment
        was written."""
        self._recover_root(root)
        wrote = False
        tails = [(i, p) for i, p in _tail_dirs(root)
                 if i < upto_batch_id]
        if tails and not self.segment_store.is_committed(root,
                                                         segment_id):
            # (crash-replayed compacting batch: segment already there)
            self._write_segment(spark, root, data_schema,
                                bucket_expr_fn, bucket_col, sort_cols,
                                tails, [], segment_id)
            wrote = True
        self._tier_compact_root(spark, root, data_schema,
                                bucket_expr_fn, bucket_col, sort_cols)
        return wrote

    def _tier_compact_root(self, spark, root: str, data_schema: str,
                           bucket_expr_fn, bucket_col: str,
                           sort_cols: list[str]) -> None:
        """Major compaction by carry-propagation size-tiering: while
        over budget, start from the two smallest segments and absorb
        each next-larger one only while it is no bigger than the
        group's running sum — equals merge with equals (a carry, as
        in an LSM level fill-up), but a big old segment is never
        dragged into a merge of small newcomers.  Simulated at 1000
        unit minors / max_segments=8: bytes rewritten per ingested
        byte 3.8, against 62 for merging every segment and 25 for a
        naive merge-smallest-k (which snowballs); measured on real
        index data by tools/compaction_bench.py."""
        while True:
            segs = self._segments(root)
            # <= 1 guard: merging a single segment cannot reduce the
            # count — it would rewrite forever under fresh tier ids
            if len(segs) <= max(1, self.max_segments):
                return
            # ROW-count-keyed carry (see _dir_rows for why not bytes);
            # _carry_pick ties on list position = segment id order, so
            # selection is deterministic
            rows = [_dir_rows(p) for _i, p in segs]
            picked = [segs[i] for i in _carry_pick(rows)]
            next_id = max(
                [i for i, _ in segs if i >= _TIER_SEG_BASE],
                default=_TIER_SEG_BASE - 1) + 1
            self._write_segment(spark, root, data_schema,
                                bucket_expr_fn, bucket_col, sort_cols,
                                [], picked, next_id)

    def compact(self, spark, upto_batch_id: int,
                segment_id: int | None = None) -> None:
        """Compact all three index relations' tails (ids <
        upto_batch_id) into a base segment (then re-tier if over
        max_segments).  Also the bulk-seed path: after feeding a
        corpus through ``process_batch``/``seed_index``, call this to
        fold everything into pruned, sorted base segments."""
        seg = upto_batch_id if segment_id is None else segment_id
        self._compact_root(spark, self.bands_path, _BANDS_DATA,
                           _sig_bucket, "sig_bucket",
                           ["band", "band_sig"], upto_batch_id, seg)
        self._compact_root(spark, self.shingles_path, _SHINGLES_DATA,
                           _id_bucket, "id_bucket",
                           ["doc_id"], upto_batch_id, seg)
        self._compact_root(spark, self.hashes_path, _HASHES_DATA,
                           _h_bucket, "h_bucket",
                           ["h"], upto_batch_id, seg)

    def seed_index(self, docs: DataFrame, segment_id: int = 0) -> None:
        """Bulk-load a corpus as base segment ``segment_id`` without
        probing (bench/bootstrap path: tools/stream_bench.py pre-seeds
        a 10x standing index with this to measure the probe's
        index-size axis).  Uses the exact same layout the compactor
        writes, so the streaming probe is oblivious to how the base
        was built."""
        refuse_sharded_roots(self.bands_path, self.shingles_path)
        spark = docs.sparkSession
        toks = docs.select("doc_id", tokens(F.col("text")).alias("_t"))
        sh = D.shingles_from_tokens(toks).persist()
        try:
            bands = D.minhash_bands(D.minhash_signatures(
                None, shingles_df=sh))

            def _write(df, root, data_schema, bucket_expr_fn,
                       bucket_col, sort_cols):
                def _dump(src, dest, n):
                    (src.withColumn(bucket_col, bucket_expr_fn(n))
                     .repartition(n, bucket_col)
                     .sortWithinPartitions(*sort_cols)
                     .write.mode("overwrite").partitionBy(bucket_col)
                     .parquet(dest))
                    # output_bytes, not input_bytes: the seed pass has
                    # no consumed-source dirs to size, so it records
                    # the segment's own on-disk bytes under a name
                    # that says so (the compactor's _write_segment
                    # records genuine consumed-input bytes instead;
                    # readers only ever use n_buckets)
                    with open(os.path.join(dest, _SEGMETA), "w") as f:
                        json.dump({"n_buckets": n,
                                   "output_bytes": _dir_bytes(dest)}, f)

                # recovery first: rolls a crashed prior seed
                # forward/back, so a re-run after a mid-seed crash is
                # clean instead of stuck on a marker-less partial
                self._recover_root(root)
                tmp = os.path.join(root, _TMPSEG)
                shutil.rmtree(tmp, ignore_errors=True)
                # pass 1 at the floor count to learn the real bytes;
                # pass 2 (a read of the just-written parquet) only
                # when the sizing rule asks for more buckets
                _dump(df, tmp, self.n_buckets)
                n = self._choose_buckets(_dir_bytes(tmp))
                if n != self.n_buckets:
                    tmp2 = tmp + "2"
                    shutil.rmtree(tmp2, ignore_errors=True)
                    _dump(spark.read
                          .schema(f"{data_schema}, {bucket_col} int")
                          .parquet(tmp).drop(bucket_col), tmp2, n)
                    shutil.rmtree(tmp)
                    os.rename(tmp2, tmp)
                # intent -> publish -> clear, same as the compactor:
                # without the intent a crash inside a publish would
                # leave an unprovable partial that recovery could
                # never safely delete
                self.segment_store.record_intent(root, segment_id, [])
                self.segment_store.publish(root, tmp, segment_id)
                self.segment_store.clear_intent(root)

            _write(bands, self.bands_path, _BANDS_DATA, _sig_bucket,
                   "sig_bucket", ["band", "band_sig"])
            _write(sh, self.shingles_path, _SHINGLES_DATA, _id_bucket,
                   "id_bucket", ["doc_id"])
            _write(docs.select("doc_id", F.md5("text").alias("h")),
                   self.hashes_path, _HASHES_DATA, _h_bucket,
                   "h_bucket", ["h"])
        finally:
            sh.unpersist()

    # ---- the per-batch probe ----------------------------------------

    def _mark(self, key: str, t0: float) -> float:
        now = time.time()
        self.last_stage_s[key] = round(now - t0, 4)
        return now

    def process_batch(self, batch: DataFrame, batch_id: int,
                      toks: DataFrame | None = None) -> None:
        """``toks``: optional pre-tokenized (doc_id, _t array<string>)
        relation for ``batch`` (same ``tokens()`` function), persisted
        by the caller — the fused doc pipeline computes it ONCE per
        trigger and shares it across all doc consumers
        (streaming/pipeline.py, VERDICT r15 directive 1); output is
        bit-equal with or without it (tokens() is deterministic)."""
        refuse_sharded_roots(self.bands_path, self.shingles_path)
        spark = batch.sparkSession
        self.last_stage_s.clear()
        t = time.time()
        for root in (self.hashes_path, self.bands_path,
                     self.shingles_path):
            self._recover_root(root)
        t = self._mark("recover", t)
        if (self.compact_every and batch_id > 0
                and batch_id % self.compact_every == 0):
            self.compact(spark, upto_batch_id=batch_id)
            self._mark("compact", t)

        # ---- stage 1: the exact fast path (md5 of the full text).
        # Production ingest dedups exact copies BEFORE near-dup
        # machinery: an exact hit needs no shingling, no minhash, no
        # jaccard verify — and an exact copy adds nothing to the
        # standing index (exact equality is transitive, so future
        # copies still match the FIRST-INGESTED doc's hash).  In the
        # steady dup-heavy state the whole minhash branch is skipped.
        # The per-batch hash relation is batch-sized by construction,
        # so the dedup BOOKKEEPING runs driver-side on two bounded
        # collects (batch hashes; matching standing rows) — but every
        # relation that is WRITTEN derives from ``batch`` or the
        # standing parquet (JVM sources), never from a Python-local
        # DataFrame: a LocalRelation scan runs as Scan ExistingRDD
        # through per-job Python workers, and coalesce(1) over it
        # evaluates all parent partitions SERIALLY — measured at
        # seconds per write.
        # one materialization of the micro-batch: every downstream
        # relation (exact hits, remainder shingles, index tails) reads
        # the cache instead of re-scanning the source per write.
        # Fused mode (toks given): the CALLER owns the batch cache —
        # persisting is harmless but unpersisting here would evict it
        # under the sibling consumers still running this trigger
        # (measured: the reservoir leg re-scanned the source file
        # every batch after the probe finished first).
        owns_cache = toks is None
        if owns_cache:
            batch = batch.persist()
        try:
            self._probe_batch(spark, batch, batch_id, toks)
        finally:
            if owns_cache:
                batch.unpersist()

    def _probe_batch(self, spark, batch: DataFrame,
                     batch_id: int,
                     toks: DataFrame | None = None) -> None:
        # Driver-side bookkeeping envelope: the (doc_id, md5) collect
        # below is O(batch rows) dicts on the driver — measured ~ms at
        # the 1 s-trigger batch sizes this pipeline runs (hundreds to
        # low thousands of rows), and capped: the limit collects at
        # most hash_collect_cap+1 rows, and a batch bigger than the
        # cap takes the fully distributed twin instead (same output,
        # window-owner + anti-join, a few more jobs).  One job either
        # way — no extra count() on the trigger hot path.
        t = time.time()
        pairs = (batch.select("doc_id", F.md5("text").alias("h"),
                              F.length("text").alias("ln"))
                 .limit(self.hash_collect_cap + 1).collect())
        t = self._mark("exact_pairs_collect", t)
        if not pairs:
            return
        if (len(pairs) > self.hash_collect_cap
                or sum(r.ln or 0 for r in pairs)
                > self.collect_volume_chars):
            # over the row cap OR the char-volume cap (the shingle
            # collect scales with characters): take the fully
            # distributed twin (same output, a few more jobs)
            self._probe_batch_distributed(spark, batch, batch_id)
            return
        owner: dict[str, int] = {}
        for r in sorted(pairs):
            owner.setdefault(r.h, r.doc_id)
        ns_h = (self._base_bucket_counts(self.hashes_path)
                or [self.n_buckets])
        idx_h = self._read_index(
            spark, self.hashes_path, _HASHES_DATA, "h_bucket",
            batch_id,
            buckets=sorted({_h_bucket_py(h, n)
                            for h in owner for n in ns_h}))
        matched: dict[str, int] = {}
        if idx_h is not None:
            # standing matches via a broadcast join against the
            # batch's (JVM-cached) hashes — NOT an isin(owner)
            # literal list, whose thousands of codegen'd literals
            # were measured at 5+ s of per-batch plan-compile at the
            # 4,800-doc tier (r15).  No distinct on the batch side:
            # the shuffle costs more than broadcasting a few
            # duplicate hash strings, and matched's setdefault dedups
            # the joined rows anyway.
            batch_h = batch.select(F.md5("text").alias("h"))
            std_rows = (idx_h.join(F.broadcast(batch_h), "h")
                        .collect())
            for r in sorted(std_rows, key=lambda r: r.doc_id):
                matched.setdefault(r.h, r.doc_id)
            t = self._mark("exact_standing_collect", t)

        # ---- exact hits, DRIVER-side (r15 fixed-floor cut): every
        # input they need is already collected (pairs, owner,
        # matched), so the within-batch-copy map join and the
        # standing-match broadcast join — two more Spark plans per
        # trigger — become two python loops feeding the same rank
        # comparator the window used (max jaccard, tie -> lower
        # dup_of; all exact hits are 1.0, so only min dup_of per doc
        # can survive, which the loops preserve exactly).
        hits_py: list[tuple[int, int, float]] = []
        for r in pairs:
            own = owner[r.h]
            if r.doc_id != own:
                # within-batch exact copy: first (lowest-id) owner
                hits_py.append((r.doc_id, own, 1.0))
            if r.h in matched:
                # standing exact match (matched keeps the lowest
                # corpus id per hash — the only one rank could pick)
                hits_py.append((r.doc_id, matched[r.h], 1.0))

        # ---- stage 2: the minhash near-dup branch, over the
        # exact-novel remainder only (first-owners with no standing
        # exact match); only the remainder joins the standing index
        # and only the remainder is appended to it.
        rem_ids = [i for h, i in owner.items() if h not in matched]
        if not rem_ids:
            # fully-duplicate batch: rank + dup-log write happen
            # entirely driver-side — ZERO further Spark jobs
            self._write_dups_local(hits_py, batch_id)
            return
        # remainder selection by whichever complement is smaller:
        # novel-heavy batches exclude the few dup ids, dup-heavy
        # batches include the few novel ids — the literal IN list
        # stays small in BOTH regimes (a 4,800-literal isin was
        # measured as seconds of plan-compile at the big doc tiers)
        excl = [r.doc_id for r in pairs
                if r.doc_id != owner[r.h] or r.h in matched]
        if len(rem_ids) <= len(excl):
            flt = F.col("doc_id").isin(rem_ids)
        elif excl:
            flt = ~F.col("doc_id").isin(excl)
        else:
            flt = None
        rem_docs = batch.filter(flt) if flt is not None else batch
        # shared-tokens path (fused doc pipeline): the remainder's
        # token relation is the SAME filter over the caller's cached
        # toks — no re-tokenize, no join
        rem_toks = None
        if toks is not None:
            rem_toks = toks.filter(flt) if flt is not None else toks
        rem_id_set = set(rem_ids)
        self._near_dup_local(
            spark, rem_docs, batch_id, hits_py,
            hash_rows=[(r.doc_id, r.h) for r in pairs
                       if r.doc_id in rem_id_set],
            toks=rem_toks)

    def _probe_batch_distributed(self, spark, batch: DataFrame,
                                 batch_id: int) -> None:
        """The exact stage for batches over ``hash_collect_cap``:
        identical semantics to the driver-dict path — within-batch
        copies flagged against the lowest-id owner, standing matches
        flagged at jaccard 1.0, and only exact-novel first-owners
        proceed to the minhash stage / the index — but expressed as a
        window-min + joins, so the driver never holds per-row state.
        Only the touched-bucket list (<= sum of segment bucket counts
        ints) and an isEmpty probe are ever collected.
        Equality with the dict path is test-pinned
        (tests/test_neardup_stream.py::test_collect_cap_path_matches).
        """
        hashed = batch.select("doc_id", F.md5("text").alias("_h"))
        ns_h = (self._base_bucket_counts(self.hashes_path)
                or [self.n_buckets])
        touched = [r[0] for r in hashed
                   .select(F.col("_h").alias("h"))
                   .select(F.explode(F.array(
                       *[_h_bucket(n) for n in ns_h])).alias("b"))
                   .distinct().collect()]
        idx_h = self._read_index(
            spark, self.hashes_path, _HASHES_DATA, "h_bucket",
            batch_id, buckets=touched)
        owned = hashed.withColumn(
            "_own", F.min("doc_id").over(Window.partitionBy("_h")))
        hits = [
            # within-batch exact copies: first (lowest-id) owner keeps
            owned.filter(F.col("doc_id") != F.col("_own"))
            .select(F.col("doc_id").alias("new_id"),
                    F.col("_own").alias("dup_of"),
                    F.lit(1.0).alias("jaccard"))]
        rem = owned.filter(F.col("doc_id") == F.col("_own")) \
            .select("doc_id", "_h")
        if idx_h is not None:
            std = idx_h.withColumnRenamed("doc_id", "corpus_id")
            hits.append(
                hashed.join(std, F.col("_h") == F.col("h"))
                .select(F.col("doc_id").alias("new_id"),
                        F.col("corpus_id").alias("dup_of"),
                        F.lit(1.0).alias("jaccard")))
            rem = rem.join(std.select("h"),
                           F.col("_h") == F.col("h"), "left_anti")
        rem_docs = batch.join(rem.select("doc_id"), "doc_id").persist()
        try:
            # count(), not isEmpty(): isEmpty materializes only the
            # partitions its 1-row probe touches, leaving later write
            # jobs to recompute the rest from the standing hashes
            # parquet — racing the hashes tail write in the same wave
            # (a committed write refreshes the path's file index under
            # an in-flight scan).  A full count completes the cache,
            # so every downstream write reads memory, never the roots.
            if rem_docs.count() == 0:
                self._rank_and_write(dups_only=True, hits=hits,
                                     batch_id=batch_id)
            else:
                self._near_dup_stage(
                    spark, rem_docs, batch_id, hits,
                    hashes=rem_docs.select(
                        "doc_id", F.md5("text").alias("h")))
        finally:
            rem_docs.unpersist()

    # ---- the driver-write probe path (r15 fixed-floor cut) ----------
    #
    # The dict path's per-trigger floor was ~8 driver-scheduled Spark
    # jobs: 4 serial collects (pairs, standing matches, touched
    # buckets, candidates) + a 4-write wave (3 index tails + the dup
    # log), measured at ~3 s fixed per micro-batch regardless of batch
    # size (SCALE.md Round 14).  A micro-batch's tail contribution is
    # KILOBYTES — the job scheduling, python round trips, and
    # per-write committer overhead were the cost, not the data.  So
    # the dict path now:
    #   - collects bands ONCE with their bucket columns computed
    #     JVM-side in the same job (touched buckets fall out locally,
    #     no separate collect);
    #   - collects shingles once (Arrow);
    #   - fuses the batch-internal and cross-corpus verifies into ONE
    #     union + collect;
    #   - ranks hits and writes all four outputs (dup log + 3 tails)
    #     driver-side via pyarrow — ZERO Spark write jobs.
    # Replay safety is unchanged: each write replaces its own
    # batch_id=N partition dir (rmtree + write == the old dynamic
    # partition overwrite), and _read_tail still excludes the current
    # batch id.  Semantics are pinned by the dict-vs-distributed
    # equality test (the distributed path below keeps the original
    # all-Spark plan) and the full recovery/crash suite.

    def _rank_py(self, hits: list) -> list[tuple[int, int, float]]:
        """The _rank_and_write window's comparator, driver-side: best
        match per new_id = max jaccard, tie -> lower dup_of.
        Jaccard values compared here are bit-identical to what the
        window saw (exact hits are the literal 1.0; verify hits are
        collected JVM doubles), so the argmax agrees exactly."""
        best: dict[int, tuple[int, float]] = {}
        for new_id, dup_of, j in hits:
            cur = best.get(new_id)
            if (cur is None or j > cur[1]
                    or (j == cur[1] and dup_of < cur[0])):
                best[new_id] = (dup_of, j)
        return [(n, d, j) for n, (d, j) in sorted(best.items())]

    def _write_partition_local(self, parent: str, batch_id: int,
                               table) -> None:
        """Replace ``parent/batch_id=<id>/`` with one pyarrow-written
        part file — the driver-side twin of the old coalesce(1) +
        dynamic-partition-overwrite Spark write (empty table => no
        partition dir, exactly like dynamic overwrite)."""
        import pyarrow.parquet as pq

        d = os.path.join(parent, f"batch_id={batch_id}")
        shutil.rmtree(d, ignore_errors=True)
        if table.num_rows == 0:
            return
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, ".part-0.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(d, "part-0.parquet"))

    def _write_dups_local(self, hits_py: list, batch_id: int) -> None:
        import pyarrow as pa

        # even an all-empty run must leave a readable (empty) dup log
        # — the old Spark write created the base dir regardless
        os.makedirs(self.dups_path, exist_ok=True)
        ranked = self._rank_py(hits_py)
        self._write_partition_local(self.dups_path, batch_id, pa.table({
            "new_id": pa.array([r[0] for r in ranked], pa.int64()),
            "dup_of": pa.array([r[1] for r in ranked], pa.int64()),
            "jaccard": pa.array([r[2] for r in ranked], pa.float64()),
        }))

    def _near_dup_local(self, spark, rem_docs: DataFrame,
                        batch_id: int, hits_py: list,
                        hash_rows: list[tuple[int, str]],
                        toks: DataFrame | None = None) -> None:
        """The near-dup stage with driver-side writes: same probe
        plans as ``_near_dup_stage`` (shingle -> minhash bands ->
        bucket-pruned standing probe -> candidate-bounded verify),
        but the batch-internal verify runs on the driver, the
        cross-corpus verify collects in two light jobs
        (``_cross_hits_local``), and every output lands via pyarrow."""
        import pyarrow as pa

        if toks is None:
            toks = rem_docs.select("doc_id", tokens(F.col("text"))
                                   .alias("_t"))
        # the 8-way repartition rationale is _near_dup_stage's
        sh = (D.shingles_from_tokens(toks)
              .repartition(8, "doc_id").persist())
        bands = D.minhash_bands(D.minhash_signatures(
            None, shingles_df=sh)).persist()
        try:
            t = time.time()
            ns_b = (self._base_bucket_counts(self.bands_path)
                    or [self.n_buckets])
            # ONE collect: band rows + bucket ids (xxhash64 is
            # JVM-only, so these columns ride along in the job instead
            # of a second explode+distinct+collect)
            b_tbl = bands.select(
                "doc_id", "band", "band_sig",
                *[_sig_bucket(n).alias(f"_b{n}") for n in ns_b]
            ).toArrow()
            touched = sorted({b for n in ns_b
                              for b in b_tbl.column(f"_b{n}").to_pylist()})
            t = self._mark("bands_collect", t)
            sh_tbl = sh.select("doc_id", "n_sh", "sh").toArrow()
            t = self._mark("shingles_collect", t)

            if b_tbl.num_rows:
                # batch-internal verify entirely DRIVER-side (r18,
                # VERDICT r17 item 6): band rows and shingle rows are
                # both already collected (they ARE the index tails),
                # so the LSH pair generation + exact jaccard are dict
                # math — the previous jaccard_verify_candidates plan
                # (an id broadcast, a checkpointed prune, two joins
                # and an aggregate PER TRIGGER) is gone from the hot
                # path.  Bit-equality with the JVM verify is pinned by
                # test_collect_cap_path_matches (the distributed twin
                # keeps the all-Spark plan) and the probe bench's
                # dup-log compare.
                sh_map = _py_shingle_map(sh_tbl)
                internal_pairs = _py_band_pairs(
                    b_tbl.column("doc_id").to_pylist(),
                    b_tbl.column("band").to_pylist(),
                    b_tbl.column("band_sig").to_pylist())
                hits_py.extend(
                    (b, a, j) for a, b, j in _py_jaccard_hits(
                        internal_pairs, sh_map, sh_map,
                        self.threshold))
                t = self._mark("py_internal_verify", t)
                hits_py.extend(self._cross_hits_local(
                    spark, batch_id, bands, sh, sh_map, touched))
                t = time.time()  # the probe stages self-mark

            self._write_dups_local(hits_py, batch_id)
            self._write_partition_local(
                os.path.join(self.bands_path, "tail"), batch_id,
                b_tbl.select(["doc_id", "band", "band_sig"]))
            self._write_partition_local(
                os.path.join(self.shingles_path, "tail"), batch_id,
                sh_tbl)
            self._write_partition_local(
                os.path.join(self.hashes_path, "tail"), batch_id,
                pa.table({
                    "doc_id": pa.array([d for d, _ in hash_rows],
                                       pa.int64()),
                    "h": pa.array([h for _, h in hash_rows],
                                  pa.string()),
                }))
            self._mark("write_wave", t)
        finally:
            sh.unpersist()
            bands.unpersist()

    def _cross_hits_local(self, spark, batch_id: int, bands: DataFrame,
                          sh: DataFrame, sh_map: dict,
                          touched: list[int]) -> list:
        """Cross-corpus hits for the dict path: ONE job probes the
        touched band buckets against the broadcast batch bands and
        collects candidate PAIRS, at most _CAND_COLLECT_CAP of them;
        one more fetches the candidates' standing shingle rows for the
        driver-side jaccard.  Over _CAND_COLLECT_CAP pairs (a hot band
        bucket fans out quadratically) or over _STD_FETCH_CAP distinct
        corpus docs, the all-Spark verify plan runs instead (unchanged
        semantics)."""
        t = time.time()
        idx_bands = self._read_index(
            spark, self.bands_path, _BANDS_DATA, "sig_bucket",
            batch_id, buckets=touched)
        if idx_bands is None:
            return []
        probe = bands.select(F.col("doc_id").alias("new_id"),
                             "band", "band_sig")
        # the limit bounds what reaches the driver; it rides the same
        # job (the collect's single-partition shuffle), so a normal
        # trigger pays no extra job for it
        p_tbl = (idx_bands
                 .join(F.broadcast(probe), ["band", "band_sig"])
                 .select("new_id", F.col("doc_id").alias("corpus_id"))
                 .limit(_CAND_COLLECT_CAP + 1)
                 .toArrow())
        cand_pairs = set(zip(p_tbl.column("new_id").to_pylist(),
                             p_tbl.column("corpus_id").to_pylist()))
        t = self._mark("cand_pairs_collect", t)
        if not cand_pairs:
            return []
        cand_ids = sorted({c for _, c in cand_pairs})
        truncated = p_tbl.num_rows > _CAND_COLLECT_CAP
        if truncated or len(cand_ids) > _STD_FETCH_CAP:
            # volume hatch: the candidates (or their shingles) are too
            # much data for the driver — run the original Spark-side
            # verify (cand relation rebuilt exactly as before); a
            # truncated pair set names only some candidates, so the
            # verify then reads every shingle bucket
            cand = D.cross_corpus_candidates(
                F.broadcast(bands), idx_bands).persist()
            try:
                vdf = self._verify_cross(
                    spark, sh, cand, None if truncated else cand_ids,
                    batch_id)
                return [(r.new_id, r.dup_of, r.jaccard)
                        for r in vdf.collect()]
            finally:
                cand.unpersist()
        # bucket-pruned standing shingle fetch; the id restriction
        # rides a broadcast semi-join against the (re-derived,
        # JVM-side) probe output rather than an isin literal list —
        # thousands of codegen literals were measured at seconds of
        # plan compile (r15 note above)
        ns_s = (self._base_bucket_counts(self.shingles_path)
                or [self.n_buckets])
        idx_sh = self._read_index(
            spark, self.shingles_path, _SHINGLES_DATA, "id_bucket",
            batch_id,
            buckets=sorted({i % n for i in cand_ids for n in ns_s}))
        if idx_sh is None:
            return []
        cand_rel = (idx_bands
                    .join(F.broadcast(probe), ["band", "band_sig"])
                    .select(F.col("doc_id").alias("corpus_id")))
        std_tbl = (idx_sh
                   .join(F.broadcast(cand_rel),
                         idx_sh["doc_id"] == cand_rel["corpus_id"],
                         "left_semi")
                   .select("doc_id", "n_sh", "sh")
                   .toArrow())
        t = self._mark("std_shingle_fetch", t)
        hits = _py_jaccard_hits(cand_pairs, sh_map,
                                _py_shingle_map(std_tbl), self.threshold)
        self._mark("py_cross_verify", t)
        return hits

    def _near_dup_stage(self, spark, rem_docs: DataFrame,
                        batch_id: int, hits: list,
                        hashes: DataFrame) -> None:
        """The pre-fast-path probe, over the exact-novel remainder:
        shingle -> minhash bands -> bucket-pruned standing probe ->
        candidate-bounded exact-jaccard verify; then the remainder's
        index contribution is appended (tail tier).  The distributed
        twin of ``_near_dup_local``: same index layout, so an
        over-cap burst degrades to a slower batch (ADVICE r15 low)."""
        toks = rem_docs.select("doc_id", tokens(F.col("text"))
                               .alias("_t"))
        # explicit 8-way hash repartition on the aggregation key: a
        # micro-batch's shingle relation is ~1 MB, so AQE coalesces the
        # groupBy exchange to ONE task — serializing the CPU-heavy
        # minhash (12 seeded hashes per shingle).  A user repartition
        # is exempt from AQE coalescing, and the downstream
        # groupBy(doc_id) reuses its partitioning (no second exchange).
        sh = (D.shingles_from_tokens(toks)
              .repartition(8, "doc_id").persist())
        bands = D.minhash_bands(D.minhash_signatures(
            None, shingles_df=sh)).persist()
        cand = None
        try:
            # batch-internal near-dups: lower doc_id wins, the higher
            # id is flagged as its dup (same first-owner convention as
            # the batch chunk/substring dedup operators)
            hits.append(D.jaccard_verify_candidates(
                sh, D.pairs_from_bands(bands), threshold=self.threshold)
                .select(F.col("id_b").alias("new_id"),
                        F.col("id_a").alias("dup_of"), "jaccard"))
            # bucket-pruned probe: only base dirs holding one of the
            # batch's band-signature buckets are scanned.  The touched
            # list unions the buckets computed under every bucket
            # count present among segments (mixed generations after a
            # bucket-count rescale) — bounded collect, at most the sum
            # of the distinct counts' values.
            t = time.time()
            ns_b = (self._base_bucket_counts(self.bands_path)
                    or [self.n_buckets])
            touched = [r[0] for r in bands
                       .select(F.explode(F.array(
                           *[_sig_bucket(n) for n in ns_b])).alias("b"))
                       .distinct().collect()]
            t = self._mark("bands_touched_collect", t)
            idx_bands = self._read_index(
                spark, self.bands_path, _BANDS_DATA, "sig_bucket",
                batch_id, buckets=touched) if touched else None
            if idx_bands is not None:
                # broadcast the batch side: the standing relation
                # streams through the join without shuffling
                cand = D.cross_corpus_candidates(
                    F.broadcast(bands), idx_bands).persist()
                cand_ids = [r[0] for r in cand.select("corpus_id")
                            .distinct().limit(_CAND_COLLECT_CAP + 1)
                            .collect()]
                self._mark("cand_collect", t)
                if cand_ids:
                    hits.append(self._verify_cross(
                        spark, sh, cand, cand_ids, batch_id))
            t = time.time()
            self._rank_and_write(
                dups_only=False, hits=hits, batch_id=batch_id,
                bands=bands, sh=sh, hashes=hashes)
            self._mark("write_wave", t)
        finally:
            sh.unpersist()
            bands.unpersist()
            if cand is not None:
                cand.unpersist()

    def _rank_and_write(self, dups_only: bool, hits: list,
                        batch_id: int, bands: DataFrame | None = None,
                        sh: DataFrame | None = None,
                        hashes: DataFrame | None = None) -> None:
        union = hits[0]
        for h in hits[1:]:
            union = union.unionAll(h)
        w = Window.partitionBy("new_id").orderBy(
            F.desc("jaccard"), "dup_of")
        dups = (union.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("new_id", "dup_of", "jaccard"))

        def _write(df: DataFrame, path: str) -> None:
            # coalesce(1): a micro-batch's contribution is one
            # small file, not one per shuffle partition — the tail
            # stays O(compact_every) files, not O(32x that)
            (df.withColumn("batch_id",
                           F.lit(batch_id).cast("bigint"))
             .coalesce(1)
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .parquet(path))

        def _write_tail(df: DataFrame, parent: str) -> None:
            # Tail partitions are NEVER committed through Spark on
            # the tail path itself: Spark's post-insert refreshByPath
            # would invalidate every cached relation whose lineage
            # reads the standing index (rem_docs/sh/bands all read
            # idx_h/idx_bands), forcing in-flight sibling writes to
            # recompute against a tail whose partition layout this
            # very write just changed — observed as a partition-
            # values assert when compaction had emptied the tail at
            # plan time and this write re-populated it.  So: write
            # to a hidden staging dir (the refresh fires there,
            # harmlessly) and move it into tail/batch_id=N with one
            # rename — the dict path's replace-own-partition replay
            # semantics exactly.
            staging = os.path.join(parent, f".tail_staging_{batch_id}")
            shutil.rmtree(staging, ignore_errors=True)
            df.coalesce(1).write.mode("overwrite").parquet(staging)
            dst = os.path.join(parent, f"batch_id={batch_id}")
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(staging, dst)

        # dups FIRST, alone: its plan is the one that reads the
        # STANDING index roots (the verify hits' idx_bands/idx_sh/
        # idx_h lineage) — running it to completion before any tail
        # mutation also completes the sh cache (the verify reads
        # every shingle partition), so the tail wave below reads
        # memory only.
        _write(dups, self.dups_path)
        if dups_only:
            return
        from concurrent.futures import ThreadPoolExecutor
        tail_writes = [
            (bands, os.path.join(self.bands_path, "tail")),
            (sh, os.path.join(self.shingles_path, "tail")),
            (hashes, os.path.join(self.hashes_path, "tail")),
        ]
        # the tail writes dump completed caches (bands/sh/rem_docs),
        # each staged then renamed into its own root — safe to overlap
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(_write_tail, df, path)
                      for df, path in tail_writes]:
                f.result()

    def _verify_cross(self, spark, sh: DataFrame, cand: DataFrame,
                      cand_ids: list[int] | None,
                      batch_id: int) -> DataFrame:
        """Exact-jaccard verify of batch-vs-corpus candidates, reading
        only the shingle buckets the candidates live in (plus a pushed
        doc_id IN filter) when ``cand_ids`` holds the whole candidate
        set and it is small enough; else (None, or over
        _CAND_COLLECT_CAP ids) every bucket."""
        capped = cand_ids is not None and len(cand_ids) <= _CAND_COLLECT_CAP
        ns_s = (self._base_bucket_counts(self.shingles_path)
                or [self.n_buckets])
        buckets = (sorted({i % n for i in cand_ids for n in ns_s})
                   if capped else None)
        idx_sh = self._read_index(
            spark, self.shingles_path, _SHINGLES_DATA, "id_bucket",
            batch_id, buckets=buckets)
        if capped:
            idx_sh = idx_sh.filter(F.col("doc_id").isin(cand_ids))
        return (D.cross_jaccard_verify(
            sh, idx_sh.select("doc_id", "n_sh", "sh"), cand,
            threshold=self.threshold)
            .select("new_id", F.col("corpus_id").alias("dup_of"),
                    "jaccard"))

    # ---- outputs / wiring -------------------------------------------

    def read_dups(self, spark) -> DataFrame:
        """Schema-safe read of the accumulated dup log — consumers use
        this (not bare spark.read.parquet) so an all-empty-partition
        dataset is an empty relation, not an inference error."""
        return spark.read.schema(_DUPS_SCHEMA).parquet(self.dups_path)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str,
               trigger: str | None = None):
        """Wire onto a streaming DataFrame of (doc_id, text)."""
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("update"))
        if trigger:
            writer = writer.trigger(processingTime=trigger)
        return writer.start()
