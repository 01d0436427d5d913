"""CLI for the engine — the user-facing surface mirroring the
reference's two HTTP services plus the import pipeline.

    python -m currency_market_pulse_spark trends \
        --trades-path PATH [PATH ...] --from 2024-01-01T00:00:00 \
        --to 2024-01-31T00:00:00 --cur-from PUR --cur-to USD
    python -m currency_market_pulse_spark import \
        --source-dir DIR --sink-path PATH --checkpoint DIR [--once]
    python -m currency_market_pulse_spark query NAME [--sf-dir DIR]

``trends`` answers the reference's GET /api/trends; ``import`` runs the
file-drop variant of the Kafka->store pipeline; ``query`` runs any
registered inventory query and prints JSON lines.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def _json_safe(obj):
    """Recursively replace non-finite floats (the drift report's
    ``dist_growth`` is ``inf`` when the training mean distance is 0)
    with their string form — bare ``Infinity``/``NaN`` from json.dumps
    is invalid JSON for downstream parsers (ADVICE r10)."""
    import math

    if isinstance(obj, float) and not math.isfinite(obj):
        return str(obj)
    if isinstance(obj, dict):
        return {k: _json_safe(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_json_safe(v) for v in obj]
    return obj


def _parse_ts(s: str) -> dt.datetime:
    """RFC3339-ish -> naive UTC.  Offset-aware inputs are CONVERTED to
    UTC before the tzinfo is dropped (stripping a +05:00 offset without
    converting would shift the query window by 5 h; ADVICE r1)."""
    d = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return d


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry.  ``spark``: inject an existing session (tests); when
    None a session is created and stopped by the CLI itself."""
    p = argparse.ArgumentParser(prog="currency_market_pulse_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("trends", help="windowed min/max/mean/median for a pair")
    t.add_argument("--trades-path", required=True, nargs="+",
                   help="parquet root(s) of normalized trades (importer "
                        "output); each root is read on its own and the "
                        "roots are unioned")
    t.add_argument("--from", dest="date_from", required=True, type=_parse_ts)
    t.add_argument("--to", dest="date_to", required=True, type=_parse_ts)
    t.add_argument("--cur-from", required=True)
    t.add_argument("--cur-to", required=True)

    i = sub.add_parser("import", help="file-drop ingest -> parquet store")
    i.add_argument("--source-dir", required=True)
    i.add_argument("--sink-path", required=True)
    i.add_argument("--checkpoint", required=True)
    i.add_argument("--once", action="store_true",
                   help="process available files then exit")

    q = sub.add_parser("query", help="run a registered inventory query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    pl = sub.add_parser(
        "pipeline",
        help="composed demo: gateway -> normalize -> sink -> live "
             "trends + streaming near-dup probe")
    pl.add_argument("--requests-dir", required=True,
                    help="JSON-lines trade requests (ingest schema)")
    pl.add_argument("--docs-dir", required=True,
                    help="JSON-lines (doc_id, text) documents")
    pl.add_argument("--out-dir", required=True)
    pl.add_argument("--limit", type=int, default=100)
    pl.add_argument("--window-ms", type=int, default=1000)
    pl.add_argument("--once", action="store_true",
                    help="process available files then exit")

    bf = sub.add_parser(
        "backfill",
        help="cold-corpus bootstrap: batch-dedup a corpus, seed the "
             "streaming near-dup index, record the cold dup log "
             "(streaming/backfill.py) — then point `pipeline` at the "
             "same --index-dir to stream the remainder")
    bf.add_argument("--docs-path", required=True,
                    help="parquet or JSON-lines corpus of "
                         "(doc_id long, text string)")
    bf.add_argument("--index-dir", required=True,
                    help="root for the standing index relations "
                         "(idx_bands, idx_shingles, idx_hashes, dups) "
                         "— the composed pipeline's --out-dir layout")
    bf.add_argument("--threshold", type=float, default=0.5)

    am = sub.add_parser(
        "ann-maintain",
        help="streaming ANN index ops loop: ingest -> drift gate -> "
             "drain/retrain/re-attach (streaming/ivf_stream.py)")
    am.add_argument("--index-dir", required=True,
                    help="root for the index relations (centroids, "
                         "assign, vectors, codebooks, codes)")
    am.add_argument("--stream-dir", required=True,
                    help="JSON-lines (vec_id, embedding) vector drops")
    am.add_argument("--checkpoint", required=True)
    am.add_argument("--train", action="store_true",
                    help="(re)train the initial index from --seed-dir, "
                         "then exit")
    am.add_argument("--seed-dir",
                    help="JSON-lines batch corpus for --train; kept "
                         "separate from --stream-dir so the live "
                         "drop zone's streaming offsets never replay "
                         "the training corpus as a duplicate batch")
    am.add_argument("--force-retrain", action="store_true",
                    help="retrain even when no drift gate fires")
    am.add_argument("--k", type=int, default=None,
                    help="coarse k (default: corpus-adaptive coarse_k)")
    am.add_argument("--m", type=int, default=4)
    am.add_argument("--sub-dim", type=int, default=16)
    am.add_argument("--pq-k", type=int, default=8)
    am.add_argument("--once", action="store_true",
                    help="ingest available files around the maintenance "
                         "pass then exit")

    args = p.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        from currency_market_pulse_spark.session import get_spark
        spark = get_spark(app_name=f"cmp-cli-{args.cmd}")
    try:
        if args.cmd == "trends":
            from currency_market_pulse_spark.api import PulseEngine
            from functools import reduce
            # one read per root: a single read over two sink roots
            # fails partition discovery (CONFLICTING_DIRECTORY_STRUCTURES)
            trades = reduce(lambda a, b: a.unionByName(b),
                            [spark.read.parquet(r) for r in args.trades_path])
            eng = PulseEngine(spark, trades)
            rows = eng.trends(args.date_from, args.date_to,
                              args.cur_from, args.cur_to)
            for r in rows:
                print(json.dumps({"window": r.time_window.isoformat(),
                                  "min": r.min, "max": r.max,
                                  "mean": r.mean, "median": r.median}))
        elif args.cmd == "import":
            from currency_market_pulse_spark.streaming.importer import (
                run_import)
            from currency_market_pulse_spark.streaming.ingest import (
                read_trades_files)
            from currency_market_pulse_spark.streaming.txn_sink import (
                TxnParquetTradesSink)
            stream = read_trades_files(spark, args.source_dir)
            query = run_import(stream, TxnParquetTradesSink(args.sink_path),
                               args.checkpoint)
            if args.once:
                query.processAllAvailable()
                query.stop()
            else:
                query.awaitTermination()
        elif args.cmd == "pipeline":
            from currency_market_pulse_spark.streaming.pipeline import (
                run_composed_pipeline)
            pipe = run_composed_pipeline(
                spark, args.requests_dir, args.docs_dir, args.out_dir,
                window_ms=args.window_ms, limit=args.limit)
            if args.once:
                try:
                    (n_trades, n_dead, n_dups,
                     n_windows) = pipe.wait_quiescent()
                finally:
                    pipe.stop()   # never leave queries running on error
                print(json.dumps({
                    "trades_imported": n_trades,
                    "requests_rejected": n_dead,
                    "near_dups_flagged": n_dups,
                    "closed_trend_windows": n_windows}))
            else:
                for qh in pipe.queries:
                    qh.awaitTermination()
        elif args.cmd == "backfill":
            from currency_market_pulse_spark.streaming.backfill import (
                backfill_bootstrap)
            from currency_market_pulse_spark.streaming.neardup_stream import (
                StreamingNearDup)
            import os as _os
            schema = "doc_id bigint, text string"
            is_json = (args.docs_path.endswith((".json", ".jsonl"))
                       or (_os.path.isdir(args.docs_path)
                           and any(n.endswith((".json", ".jsonl"))
                                   for n in _os.listdir(args.docs_path))))
            docs = (spark.read.schema(schema).json(args.docs_path)
                    if is_json
                    else spark.read.schema(schema).parquet(args.docs_path))
            nd = StreamingNearDup(
                bands_path=f"{args.index_dir}/idx_bands",
                shingles_path=f"{args.index_dir}/idx_shingles",
                hashes_path=f"{args.index_dir}/idx_hashes",
                dups_path=f"{args.index_dir}/dups",
                threshold=args.threshold)
            # persist + count BEFORE the bootstrap: the count both
            # materializes the cache every bootstrap stage then reads
            # and avoids re-scanning the corpus for the summary line
            # after backfill_bootstrap unpersists (ADVICE r13 — at
            # the 100 TB posture that second scan is hours)
            docs = docs.persist()
            n_docs = docs.count()
            cold = backfill_bootstrap(nd, docs)
            print(json.dumps({
                "cold_docs": n_docs,
                "cold_dups_flagged": cold.count(),
                "index_band_rows": nd.read_bands(spark).count()}))
        elif args.cmd == "ann-maintain":
            from currency_market_pulse_spark.streaming.ivf_stream import (
                StreamingIVFPQIndex, retrain_with_handover)
            idx = StreamingIVFPQIndex(
                centroids_path=f"{args.index_dir}/centroids",
                assign_path=f"{args.index_dir}/assign",
                vectors_path=f"{args.index_dir}/vectors",
                codebooks_path=f"{args.index_dir}/codebooks",
                codes_path=f"{args.index_dir}/codes",
                m=args.m, sub_dim=args.sub_dim, pq_k=args.pq_k)
            vec_schema = "vec_id bigint, embedding array<double>"
            if args.train:
                if not args.seed_dir:
                    print("--train requires --seed-dir", file=sys.stderr)
                    return 2
                emb = spark.read.schema(vec_schema).json(args.seed_dir)
                idx.train(emb, k=args.k)
                print(json.dumps({
                    "trained": True,
                    "k": idx.read_centroids(spark).count(),
                    "n_vectors": idx.read_vectors(spark).count()}))
                return 0

            def attach():
                s = (spark.readStream.schema(vec_schema)
                     .json(args.stream_dir))
                return idx.attach(s, args.checkpoint)

            q = attach()
            q.processAllAvailable()   # ingest what's already dropped
            report, q2 = retrain_with_handover(
                idx, spark, reattach=attach, query=q,
                force=args.force_retrain, k=args.k)
            if args.once:
                q2.processAllAvailable()
                q2.stop()
                print(json.dumps(_json_safe(report)))
            else:
                print(json.dumps(_json_safe(report)), flush=True)
                q2.awaitTermination()
        elif args.cmd == "query":
            import __spark_entry__ as entrymod
            fn = entrymod.queries().get(args.name)
            if fn is None:
                print(f"unknown query {args.name!r}; available: "
                      f"{', '.join(sorted(entrymod.queries()))}",
                      file=sys.stderr)
                return 2
            for r in fn(spark, args.sf_dir).limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
