"""Durable segment publication for the streaming near-dup index —
the filesystem-contract seam SCALE.md Round 13 promised, made
executable (VERDICT r13 directive 2).

The standing index (streaming/neardup_stream.py) publishes immutable
compacted segments under ``<root>/base/segment=<id>/``.  What the
probe and the crash-recovery protocol actually REQUIRE from storage is
not "atomic rename" — it is two narrower properties this module names
as an interface:

- ``publish``   — **durable_publish(segment)**: after it returns, the
  segment is visible-and-committed as one unit; after a crash at any
  interior point, the segment is either fully committed or
  recoverably uncommitted (never half-read by a reader).
- ``committed`` — **discover_committed()**: the exact set of
  committed segments, never including a partially-published one,
  independent of listing ORDER (test-pinned r13) and of
  listing-vs-PUT visibility races.

One implementation, ``MarkerSegmentStore``, which needs no rename
and so runs unchanged on POSIX disks and on object stores.  Stores
like S3 have NO rename — objects appear one PUT at a time, so a
segment's files become listable before the segment is whole.  The
protocol therefore separates visibility from commitment the way
Delta/Iceberg do:

1. upload every segment file under its final path (each PUT atomic
   per object; the directory is visible but UNCOMMITTED);
2. commit = create the single ``_committed`` marker object with a
   **conditional PUT** (If-None-Match: * — locally, open with
   O_CREAT|O_EXCL): it succeeds for exactly one publisher, so two
   racing attempts cannot both commit divergent contents;
3. discovery returns only marker-bearing segments; recovery deletes
   the marker-less partial a pending intent names (its rows still
   live in the consumed sources, which are only deleted after the
   marker exists).

Underscore-prefixed control files (``_committed``, the intent
manifest) are invisible to Spark's file listings, so a reader that
somehow scanned ``base/`` wholesale would still skip them — but the
index reads through ``committed()`` precisely so uncommitted partial
segments are never scanned at all.

Consistency contract (r16, test-pinned in test_segment_store.py's
stale-listing suite): DISCOVERY tolerates eventually-consistent
LIST/HEAD — a stale listing can only SHRINK the committed set (a
marker-less or unlisted segment is indistinguishable from
uncommitted and is skipped), never surface uncommitted bytes, and a
missed committed segment appears as soon as the listing settles —
probes converge, nothing is permanently skipped.  RECOVERY's
delete decision (``clean_uncommitted`` inside a pending-intent
window) additionally requires read-after-write-consistent HEAD on
the one marker key the intent names — the guarantee S3/GCS/Azure
all provide today — because a stale-negative HEAD there would
misclassify a committed segment as a crashed partial.

Locally the marker store simulates per-object atomic PUT with plain
full-file copies and injectable crash points BETWEEN objects (a
failed real PUT does not create the object, so "torn object" is not
in the fault model; "some objects present, marker absent" is — and
the fault-injection tests drive every such window,
tests/test_segment_store.py).  Staging writes (Spark's own output to
the hidden ``_compacting_segment`` scratch dir) are NOT part of the
contract — production object-store deployments stage on local disk
or rely on the store's multipart upload; only publication and
discovery cross the seam.

Reference anchor: the index plays the role of the reference's
ClickHouse-backed trades store (importer/importing/service.go:74-174
inserts, trends/listing/service.go:47-62 bounded reads); this module
is where its durability contract becomes portable off POSIX.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

_INTENT = "_compaction_manifest"
_MARKER = "_committed"


class InjectedCrash(RuntimeError):
    """Raised by a fault hook to simulate a crash between PUTs."""


# -- durable-write helpers: the one place the streaming stores flush
# (this module's marker store, the txn sink and the rate-limit gate's
# snapshot) -----------------------------------------------------------

def fsync_path(path: str) -> None:
    """Flush a file's bytes, or a directory's entries, to disk."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def replace_durably(tmp: str, final: str) -> None:
    """Atomic, durable publish of a fully written file or directory:
    fsync ``tmp``, ``os.replace`` it onto ``final``, then fsync the
    parent directory.  The rename alone orders nothing: without the
    first fsync the target could surface empty after power loss, and
    without the second the rename itself could vanish (ADVICE r8)."""
    fsync_path(tmp)
    os.replace(tmp, final)
    fsync_path(os.path.dirname(final))


def write_json_durably(path: str, obj) -> None:
    """``obj`` as JSON at ``path`` through ``<path>.tmp`` and
    ``replace_durably``: readers see the old document or the new one,
    never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    replace_durably(tmp, path)


@dataclass
class MarkerSegmentStore:
    """No-rename publication: per-object copies + a conditional-PUT
    ``_committed`` marker.  See module docstring.

    ``fault``: optional hook called with a label at every crash
    window (``copy:<relpath>`` before each object lands,
    ``before_marker``, ``after_marker``); raising from it simulates
    the crash — the fault-injection tests' entry point.
    """

    fault: Callable[[str], None] | None = field(default=None)

    # intent: a single private control object; the compactor is
    # single-writer per root (one foreachBatch thread), so a plain
    # overwriting PUT (full write + fsync, no rename) is the object
    # PUT twin.  The COMMIT marker below is where the conditional PUT
    # guards racing publishers.
    def record_intent(self, root: str, segment_id: int,
                      consumed: list[str]) -> None:
        os.makedirs(root, exist_ok=True)
        manifest = os.path.join(root, _INTENT)
        with open(manifest, "w") as f:
            json.dump({"segment": segment_id, "consumed": consumed}, f)
        fsync_path(manifest)

    def read_intent(self, root: str) -> dict | None:
        try:
            with open(os.path.join(root, _INTENT)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def clear_intent(self, root: str) -> None:
        try:
            os.remove(os.path.join(root, _INTENT))
        except OSError:
            pass

    def _marker(self, root: str, segment_id: int) -> str:
        return os.path.join(root, "base", f"segment={segment_id}",
                            _MARKER)

    def publish(self, root: str, staged_dir: str,
                segment_id: int) -> None:
        dst = os.path.join(root, "base", f"segment={segment_id}")
        if os.path.exists(self._marker(root, segment_id)):
            # already committed by a previous (crashed) attempt: the
            # committed bytes are the truth; drop the re-staged copy
            shutil.rmtree(staged_dir, ignore_errors=True)
            return
        # leftover partial from a crashed attempt was never committed
        # (no marker) => replace it wholesale
        shutil.rmtree(dst, ignore_errors=True)
        for src_root, _dirs, names in sorted(os.walk(staged_dir)):
            rel_dir = os.path.relpath(src_root, staged_dir)
            out_dir = (dst if rel_dir == "."
                       else os.path.join(dst, rel_dir))
            os.makedirs(out_dir, exist_ok=True)
            for name in sorted(names):
                rel = (name if rel_dir == "."
                       else os.path.join(rel_dir, name))
                if self.fault is not None:
                    self.fault(f"copy:{rel}")
                out = os.path.join(out_dir, name)
                shutil.copyfile(os.path.join(src_root, name), out)
                fsync_path(out)
        if self.fault is not None:
            self.fault("before_marker")
        # the commit point: conditional PUT (create-if-absent) of the
        # single marker object — exactly one publisher can win it
        marker = self._marker(root, segment_id)
        os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        fsync_path(marker)
        if self.fault is not None:
            self.fault("after_marker")
        shutil.rmtree(staged_dir, ignore_errors=True)

    def is_committed(self, root: str, segment_id: int) -> bool:
        return os.path.exists(self._marker(root, segment_id))

    def committed(self, root: str) -> list[tuple[int, str]]:
        base = os.path.join(root, "base")
        if not os.path.isdir(base):
            return []
        out = []
        for d in os.listdir(base):
            if (d.startswith("segment=")
                    and os.path.exists(os.path.join(base, d, _MARKER))):
                out.append((int(d.split("=", 1)[1]),
                            os.path.join(base, d)))
        return sorted(out)

    def clean_uncommitted(self, root: str, segment_id: int) -> None:
        """Delete the visible-but-uncommitted partial of a crashed
        publish of ``segment_id``.  Safe because consumed sources are
        only deleted AFTER the marker exists — an uncommitted
        segment's rows all still live in their sources.  Called from
        single-threaded recovery only (no publish can be concurrently
        in flight), for the one segment a pending intent names (an
        uncommitted partial ALWAYS has a live intent — intents are
        cleared only after commit).  A marker-less dir no intent
        explains is never deleted: it may hold rows whose sources are
        gone, so the index refuses such a root instead
        (neardup_stream.py ``_recover_root``)."""
        d = os.path.join(root, "base", f"segment={segment_id}")
        if not os.path.exists(os.path.join(d, _MARKER)):
            shutil.rmtree(d, ignore_errors=True)
