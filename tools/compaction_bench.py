"""Write amplification of the streaming near-dup index's size-tiered
major compaction (VERDICT r11 directive 2):

    python tools/compaction_bench.py [--batches 48] [--docs 30]

Feeds a deterministic all-novel document stream through a
StreamingNearDup whose compaction is carry-propagation tiering (merge
the two smallest segments plus each next-larger one no bigger than
the group's running ROW sum), with compaction every
``--compact-every`` batches and ``--max-segments`` as the trigger, so
the run crosses several major compactions.  It measures, per index
relation and in total:

    bytes_ingested   parquet bytes written into tail dirs (the
                     batches' own index contribution)
    bytes_compacted  parquet bytes written into base segments (the
                     rewrites; the compaction's cost)
    write_amp        (ingested + compacted) / ingested — 1.0 would be
                     an ideal no-rewrite store
    rows_* / row_write_amp   the same accounting in ROWS — the
                     footer-free metric: every major write pays a
                     ~KB parquet floor per bucket file, which at
                     small corpora inflates the byte metric on the
                     rewrite side; rows compare 1:1 with the policy
                     simulation in neardup_stream._tier_compact_root

The artifact is written to ``--out`` (default
tools/compaction_amplification.json, cited by SCALE.md Round 12).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

_TOOLS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TOOLS)
sys.path.insert(0, _REPO)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, n))
                except OSError:
                    pass
    return total


def _doc(i: int, width: int) -> str:
    # all-novel deterministic text: no shingle overlap across docs, so
    # the index grows linearly with ingest (the compaction-heavy case)
    return " ".join(f"tok{i}x{j}" for j in range(width))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=48)
    ap.add_argument("--docs", type=int, default=30)
    ap.add_argument("--doc-width", type=int, default=40)
    ap.add_argument("--compact-every", type=int, default=4)
    ap.add_argument("--max-segments", type=int, default=4)
    ap.add_argument("--out", default=os.path.join(
        _TOOLS, "compaction_amplification.json"))
    args = ap.parse_args()

    from currency_market_pulse_spark.session import get_spark
    from currency_market_pulse_spark.streaming.neardup_stream import (
        StreamingNearDup, _dir_rows,
    )

    spark = get_spark(app_name="compaction-bench",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="compaction_bench_")
    try:
        compacted: dict[str, int] = {}
        compacted_rows: dict[str, int] = {}
        majors = [0]

        class _Instrumented(StreamingNearDup):
            """Record every segment write's bytes at the moment it
            happens — exact even when a tier loop creates and
            re-consumes a segment inside one process_batch call."""

            def _write_segment(self, spark, root, data_schema,
                               bucket_expr_fn, bucket_col,
                               sort_cols, tails, segs, segment_id):
                super()._write_segment(
                    spark, root, data_schema, bucket_expr_fn,
                    bucket_col, sort_cols, tails, segs, segment_id)
                seg = os.path.join(root, "base",
                                   f"segment={segment_id}")
                compacted[root] = (compacted.get(root, 0)
                                   + _dir_bytes(seg))
                compacted_rows[root] = (compacted_rows.get(root, 0)
                                        + _dir_rows(seg))
                if segs:          # consumed existing segments
                    majors[0] += 1

        nd = _Instrumented(
            bands_path=os.path.join(work, "bands"),
            shingles_path=os.path.join(work, "shingles"),
            dups_path=os.path.join(work, "dups"),
            compact_every=args.compact_every,
            max_segments=args.max_segments)

        roots = {"bands": nd.bands_path,
                 "shingles": nd.shingles_path,
                 "hashes": nd.hashes_path}
        ingested = {k: 0 for k in roots}
        ingested_rows = {k: 0 for k in roots}
        seen_tails: dict[str, set[str]] = {k: set() for k in roots}

        for b in range(args.batches):
            rows = [(b * args.docs + d,
                     _doc(b * args.docs + d, args.doc_width))
                    for d in range(args.docs)]
            batch = spark.createDataFrame(
                rows, "doc_id long, text string")
            nd.process_batch(batch, b)
            # every tail dir is written exactly once and survives at
            # least until the next compaction — record each at first
            # sight
            for k, r in roots.items():
                tail = os.path.join(r, "tail")
                if not os.path.isdir(tail):
                    continue
                for d in os.listdir(tail):
                    if (d.startswith("batch_id=")
                            and d not in seen_tails[k]):
                        seen_tails[k].add(d)
                        ingested[k] += _dir_bytes(
                            os.path.join(tail, d))
                        ingested_rows[k] += _dir_rows(
                            os.path.join(tail, d))
        compacted = {k: compacted.get(r, 0) for k, r in roots.items()}
        compacted_rows = {k: compacted_rows.get(r, 0)
                          for k, r in roots.items()}
        majors = majors[0]

        total_in = sum(ingested.values())
        total_comp = sum(compacted.values())
        rows_in = sum(ingested_rows.values())
        rows_comp = sum(compacted_rows.values())
        result = {
            "bytes_ingested": total_in,
            "bytes_compacted": total_comp,
            "write_amp": round((total_in + total_comp)
                               / max(1, total_in), 3),
            "rows_ingested": rows_in,
            "rows_compacted": rows_comp,
            "row_write_amp": round((rows_in + rows_comp)
                                   / max(1, rows_in), 3),
            "major_compactions_observed": majors,
            "per_relation": {
                k: {"ingested": ingested[k],
                    "compacted": compacted[k],
                    "write_amp": round(
                        (ingested[k] + compacted[k])
                        / max(1, ingested[k]), 3)}
                for k in roots},
        }
        print(f"tiered: write_amp={result['write_amp']} "
              f"row_write_amp={result['row_write_amp']} "
              f"(ingested {total_in}B/{rows_in}r, rewritten "
              f"{total_comp}B/{rows_comp}r, majors {majors})",
              flush=True)
        artifact = {
            "config": {"batches": args.batches,
                       "docs_per_batch": args.docs,
                       "doc_width_tokens": args.doc_width,
                       "compact_every": args.compact_every,
                       "max_segments": args.max_segments},
            "tiered": result,
        }
        with open(args.out, "w") as f:
            json.dump(artifact, f, indent=2)
        print(f"wrote {args.out}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
