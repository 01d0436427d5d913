"""Streaming throughput benchmark for the composed pipeline (VERDICT
r9 directive 2): the batch side has BENCH_r*.json; this produces the
streaming equivalent, STREAM_BENCH.json at the repo root.

    python tools/stream_bench.py                    # default: 120 s
    python tools/stream_bench.py --duration 300 --rows-per-batch 5000

Method: drive all three queries of ``streaming/pipeline.py`` for
``--duration`` seconds —

- the TRADES leg from the ``trades_gen`` rate source (offset-tracked,
  deterministic; ``--rows-per-batch`` rows per 1 s trigger is the
  offered load), through the gateway -> normalize -> write-once txn
  sink -> live trends view chain;
- the DOCUMENT query (one read + tokenize per trigger feeding the
  near-dup index, CMS heavy hitters, decontam screen and reservoir)
  from the sf corpus (``--sf-dir`` documents,
  replicated if short), pre-chunked into ``--docs-per-file``-row
  JSON-lines drops consumed at ``--doc-files-per-trigger`` files per
  trigger (default 1 on the 1 s tier; pair ``--doc-trigger
  '2 seconds' --doc-files-per-trigger 2`` for the batchier
  background tier at identical offered throughput).

Instrumentation is Spark's own per-trigger progress feed
(``StreamingQuery.recentProgress``): per query we report batches run,
rows in, p50/p95/max trigger wall vs the 1 s trigger budget, and
processed-rows/s; plus end-to-end measures — achieved sink rows/s,
sink->live-view pickup lag (matching the two progress timelines), and
the standing state sizes that prove constant-state claims (reservoir
k rows, CMS store cells, band-index growth).  The summary names the
query that saturates first = highest p95 trigger wall / trigger
budget, the one that falls behind first as offered load rises.

Run on an otherwise idle machine; progress retention is Spark's last
100 triggers per query, so p50/p95 describe the steady-state tail of
longer runs (noted in the artifact).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TOOLS)
sys.path.insert(0, _REPO)

#: ComposedPipeline.queries order: one doc-side query drives all four
#: document consumers (streaming/pipeline.py, r15 dir. 1)
QUERY_NAMES = ["import", "trends_view", "docs"]


def _trigger_ms(s: str) -> int:
    """Spark processingTime string -> ms, all units Spark accepts at
    this harness (ADVICE r12: the old second-only regex silently
    budgeted '500 milliseconds' as 1000 ms).  Unknown formats fail
    loudly rather than skew trigger_utilization."""
    import re as _re
    m = _re.fullmatch(
        r"\s*(\d+)\s*(millisecond|milli|ms|second|sec|s|minute|min|m)"
        r"s?\s*", s)
    if not m:
        raise SystemExit(f"unsupported --doc-trigger format: {s!r}")
    n, unit = int(m.group(1)), m.group(2)
    scale = {"millisecond": 1, "milli": 1, "ms": 1,
             "second": 1000, "sec": 1000, "s": 1000,
             "minute": 60_000, "min": 60_000, "m": 60_000}[unit]
    return n * scale


def _du(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _pct(xs, p):
    if not xs:
        return None
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))]


def _summarize(progress: list[dict], trigger_ms: int) -> dict:
    walls = [p["durationMs"]["triggerExecution"] for p in progress
             if "durationMs" in p]
    rows = sum(int(p.get("numInputRows", 0)) for p in progress)
    data_batches = [p for p in progress if int(p.get("numInputRows", 0))]
    prs = [float(p["processedRowsPerSecond"]) for p in data_batches
           if p.get("processedRowsPerSecond")]
    # per-trigger wall decomposition from Spark's own progress feed
    # (r11 directive 1): addBatch is the foreachBatch/sink work,
    # walCommit+commitOffsets are the checkpoint fsyncs, the rest is
    # planning + source polling.  State-op internals (task-time SUMS
    # across partitions, not wall) expose the live view's aggregation
    # update/commit/removal split.
    breakdown = {}
    for k in ("addBatch", "walCommit", "commitOffsets",
              "queryPlanning", "latestOffset", "getBatch"):
        xs = [p["durationMs"][k] for p in data_batches
              if "durationMs" in p and k in p["durationMs"]]
        if xs:
            breakdown[k] = {"p50": _pct(xs, 50), "p95": _pct(xs, 95)}
    state_ms = {}
    for k in ("allUpdatesTimeMs", "commitTimeMs", "allRemovalsTimeMs"):
        xs = [p["stateOperators"][0][k] for p in data_batches
              if p.get("stateOperators")
              and k in p["stateOperators"][0]]
        if xs:
            state_ms[k] = {"p50": _pct(xs, 50), "p95": _pct(xs, 95)}
    # wall p95 by thirds of the run (soak evidence: a flat series
    # across tier compactions / index growth; one third is noise-prone
    # on short runs — read it only on 300 s+ runs).  Even partitioning
    # at indices len*i//3 (ADVICE r13: the old fixed-step chunking
    # silently dropped up to 2 remainder triggers from the last third)
    thirds = []
    dws = [p["durationMs"]["triggerExecution"] for p in data_batches]
    if dws:
        cuts = [len(dws) * i // 3 for i in range(4)]
        thirds = [_pct(dws[cuts[i]:cuts[i + 1]], 95)
                  for i in range(3) if cuts[i] < cuts[i + 1]]
    out = {
        "batches": len(walls),
        "data_batches": len(data_batches),
        "input_rows": rows,
        "trigger_wall_ms": {
            "p50": _pct(walls, 50), "p95": _pct(walls, 95),
            "max": max(walls) if walls else None,
            "p95_by_third": thirds},
        "trigger_budget_ms": trigger_ms,
        "p95_over_budget": (round(_pct(walls, 95) / trigger_ms, 3)
                            if walls else None),
        "processed_rows_per_sec_p50": (round(_pct(prs, 50), 1)
                                       if prs else None),
        "wall_breakdown_ms": breakdown,
    }
    if state_ms:
        out["state_task_ms_sums"] = state_ms
    return out


def _view_pickup_lag(import_prog: list[dict],
                     trends_prog: list[dict]) -> dict:
    """Sink->view pickup: for every trends trigger that consumed rows,
    the gap since the most recent import trigger that produced rows
    (both ends from Spark's progress timestamps, ms precision)."""
    def _ts(p):  # ISO8601 w/ ms, e.g. 2026-08-15T05:00:00.123Z
        import datetime as dt
        return dt.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")).timestamp()

    writes = sorted(_ts(p) + p["durationMs"]["triggerExecution"] / 1e3
                    for p in import_prog
                    if int(p.get("numInputRows", 0)))
    lags = []
    for p in trends_prog:
        if not int(p.get("numInputRows", 0)):
            continue
        done = _ts(p) + p["durationMs"]["triggerExecution"] / 1e3
        prior = [w for w in writes if w <= done]
        if prior:
            lags.append(done - prior[-1])
    return {"samples": len(lags),
            "p50_sec": round(_pct(lags, 50), 3) if lags else None,
            "p95_sec": round(_pct(lags, 95), 3) if lags else None}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--duration", type=int, default=120,
                    help="seconds of sustained ingest")
    ap.add_argument("--rows-per-batch", type=int, default=2000,
                    help="trades offered per 1 s trigger (trades_gen)")
    ap.add_argument("--users", type=int, default=None,
                    help="trades_gen user-id cardinality (default: the "
                         "source's 50); ~100000 = the realistic "
                         "per-user-limiter key space "
                         "(STREAM_BENCH_cardinality.json)")
    ap.add_argument("--docs-per-file", type=int, default=300,
                    help="documents offered per 1 s trigger (1 file)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(_REPO,
                                                  "STREAM_BENCH.json"))
    ap.add_argument("--keep-workdir", action="store_true")
    ap.add_argument("--preseed-docs", type=int, default=0,
                    help="bulk-load this many documents into the "
                         "standing near-dup index BEFORE the run — the "
                         "index-size axis (VERDICT r10 directive 5): "
                         "per-batch probe cost should be flat in it")
    ap.add_argument("--doc-trigger", default=None,
                    help="trigger for the BACKGROUND document probes "
                         "(near-dup/CMS/decontam/reservoir), e.g. "
                         "'2 seconds'; default = the 1 s import "
                         "trigger.  Pair with --doc-files-per-trigger "
                         "to keep offered doc throughput identical "
                         "while halving per-trigger fixed costs.")
    ap.add_argument("--doc-files-per-trigger", type=int, default=1)
    ap.add_argument("--burst-factor", type=int, default=1,
                    help="multiply docs-per-file by this for the "
                         "burst window's files (1 = no burst)")
    ap.add_argument("--burst-start-trigger", type=int, default=None,
                    help="file index where the burst begins "
                         "(default: mid-run)")
    ap.add_argument("--burst-triggers", type=int, default=10,
                    help="how many consecutive files carry the burst")
    ap.add_argument("--neardup-compact-every", type=int, default=32,
                    help="near-dup index minor-compaction cadence "
                         "(batches); lower = more compactions per "
                         "run, the HARDER case for probe latency")
    ap.add_argument("--neardup-max-segments", type=int, default=8,
                    help="segment budget before a tier (major) merge")
    ap.add_argument("--min-neardup-docs-per-sec", type=float,
                    default=0.0,
                    help="capacity gate (VERDICT r13 directive 5): "
                         "exit nonzero if the near-dup leg's "
                         "sustained docs/s falls below this — the "
                         "regression gate on the backfill-cutover "
                         "capacity number")
    ap.add_argument("--min-majors", type=int, default=0,
                    help="soak gate: exit nonzero unless at least "
                         "this many MAJOR (tier) compactions fired "
                         "inside the run")
    ap.add_argument("--stream-shuffle-partitions", type=int, default=8,
                    help="shuffle/state width for the STREAMING session "
                         "(cloned off the main one): 1 s micro-batches "
                         "are small by construction, and 32-way state "
                         "ops pay 32 python-worker round-trips + 32 "
                         "state-store commits per 2,000-row flush "
                         "(measured import-solo p50 2.57 s at 32 vs "
                         "1.15 s at 8).  Size UP with offered rate in "
                         "production; the checkpoint pins state width "
                         "at first start.")
    args = ap.parse_args()
    if args.doc_trigger:
        _trigger_ms(args.doc_trigger)  # fail fast, not after the run

    from currency_market_pulse_spark.session import get_spark
    from currency_market_pulse_spark.sources.trades_source import (
        TradesGenDataSource,
    )
    from currency_market_pulse_spark.streaming.pipeline import (
        run_composed_pipeline,
    )

    spark = get_spark(app_name="stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # the streaming queries run on a cloned session with shuffle width
    # sized to the micro-batch volume (see --stream-shuffle-partitions);
    # the main session keeps the engine default for batch reads
    stream_spark = spark.newSession()
    stream_spark.conf.set("spark.sql.shuffle.partitions",
                          str(args.stream_shuffle_partitions))
    stream_spark.dataSource.register(TradesGenDataSource)

    work = tempfile.mkdtemp(prefix="stream_bench_")
    docs_dir = os.path.join(work, "docs")
    os.makedirs(docs_dir)

    # pre-chunk the corpus into 1-file-per-trigger drops; replicate to
    # cover the whole duration (+25% head room) if the corpus is short.
    # With --burst-factor F, files [burst-start-trigger, +burst-
    # triggers) carry F x docs-per-file — a doc-side load burst at a
    # known point in the run (the FAIR-pool burst A/B, r12 directive 5)
    docs = (spark.read.parquet(os.path.join(args.sf_dir,
                                            "documents.parquet"))
            .select("doc_id", "text").collect())
    need_files = int(args.duration * 1.25) + 5
    burst_start = (args.burst_start_trigger
                   if args.burst_start_trigger is not None
                   else args.duration // 2)
    sizes = []
    for fidx in range(need_files):
        n = args.docs_per_file
        if (args.burst_factor > 1
                and burst_start <= fidx < burst_start
                + args.burst_triggers):
            n *= args.burst_factor
        sizes.append(n)
    need_docs = sum(sizes)

    def _rep_text(text, rep):
        # replication beyond the corpus must stay NOVEL: rep 0 is the
        # corpus verbatim, later reps suffix every token with the rep
        # id — same length, no shingle overlap with other reps.  A
        # verbatim replica would be all exact copies, which the index
        # deliberately does NOT ingest (hash fast path) — a soak run
        # would stop growing the index after one corpus pass and
        # never compact (discovered in the r13 soak: tail writes
        # ceased at batch 99 and no major could ever fire).
        if rep == 0:
            return text
        return " ".join(f"{t}z{rep}q" for t in text.split())

    rows, rep = [], 0
    while len(rows) < need_docs:
        rows.extend((int(r.doc_id) + rep * 10_000_000,
                     _rep_text(r.text, rep))
                    for r in docs)
        rep += 1
    pos = 0
    for fidx, size in enumerate(sizes):
        with open(os.path.join(docs_dir, f"chunk-{fidx:05d}.json"),
                  "w") as f:
            for did, text in rows[pos:pos + size]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        pos += size
    eval_df = stream_spark.createDataFrame(
        [(int(r.doc_id), r.text) for r in docs[:50]],
        "doc_id long, text string")

    trades_reader = (stream_spark.readStream.format("trades_gen")
                     .option("rowsPerBatch", str(args.rows_per_batch)))
    if args.users is not None:
        trades_reader = trades_reader.option("users", str(args.users))
    trades_stream = trades_reader.load()

    out_dir = os.path.join(work, "out")
    preseed_rows = 0
    if args.preseed_docs:
        # bulk-load the standing band/shingle index (ids disjoint from
        # the stream's) so the run probes a 10x-class corpus from the
        # first trigger — the layout is exactly what the compactor
        # writes, so this measures the steady-state probe, not warmup
        from currency_market_pulse_spark.streaming.neardup_stream import (
            StreamingNearDup,
        )
        # rep 0 is the corpus verbatim (so the stream's docs have their
        # genuine standing match — the steady-state dedup condition);
        # later reps interleave a rep-salt token between every original
        # token, which kills 3-shingle overlap with everything else —
        # the extra index mass is DISTINCT content, so the axis being
        # measured is index size, not candidate hit rate.
        def _variant(text, rep):
            if rep == 0:
                return text
            return " ".join(f"{t} z{rep}q{j}"
                            for j, t in enumerate(text.split()))

        seed_rows, rep = [], 0
        while len(seed_rows) < args.preseed_docs:
            seed_rows.extend(
                (int(r.doc_id) + 900_000_000 + rep * 10_000_000,
                 _variant(r.text, rep))
                for r in docs)
            rep += 1
        nd_seed = StreamingNearDup(
            bands_path=os.path.join(out_dir, "idx_bands"),
            shingles_path=os.path.join(out_dir, "idx_shingles"),
            hashes_path=os.path.join(out_dir, "idx_hashes"),
            dups_path=os.path.join(out_dir, "dups"))
        nd_seed.seed_index(stream_spark.createDataFrame(
            seed_rows[:args.preseed_docs], "doc_id long, text string"))
        preseed_rows = nd_seed.read_bands(spark).count()
        print(f"preseeded standing index: {args.preseed_docs} docs, "
              f"{preseed_rows} band rows", flush=True)
    t0 = time.time()
    pipe = run_composed_pipeline(
        stream_spark, None, docs_dir, out_dir, eval_df=eval_df,
        requests_stream=trades_stream,
        doc_trigger=args.doc_trigger,
        doc_files_per_trigger=args.doc_files_per_trigger,
        neardup_compact_every=args.neardup_compact_every,
        neardup_max_segments=args.neardup_max_segments)
    # accumulate progress DURING the run (keyed by batchId): Spark
    # retains only the last 100 triggers per query, so a single drain
    # at the end would truncate a soak run's early history
    acc: dict[str, dict] = {name: {} for name in QUERY_NAMES}

    txn_series: list[dict] = []

    def _drain():
        for name, q in zip(QUERY_NAMES, pipe.queries):
            for p in _progress(q):
                acc[name][p["batchId"]] = p
        # soak evidence for manifest retention (VERDICT r16 dir. 3):
        # the live _txn/ file count must stay bounded while the view
        # serves — one listdir per drain (~5 s) is free at this scale
        try:
            n_txn = len(os.listdir(
                os.path.join(pipe.trades_path, "_txn")))
        except OSError:
            n_txn = 0
        txn_series.append({"t": round(time.time() - t0, 1),
                           "txn_files": n_txn})
    try:
        while time.time() - t0 < args.duration:
            time.sleep(min(5.0, max(0.1, args.duration
                                    - (time.time() - t0))))
            pipe._raise_if_failed()
            _drain()
        _drain()
        progress = {name: [acc[name][b] for b in sorted(acc[name])]
                    for name in QUERY_NAMES}
    finally:
        pipe.stop()
    wall = time.time() - t0

    sink_rows = spark.read.parquet(pipe.trades_path).count()
    dead_rows = pipe.read_dead_letters(spark).count()
    # per-query trigger budget: the doc query may run on a slower tier
    doc_ms = (_trigger_ms(args.doc_trigger) if args.doc_trigger
              else 1000)
    budget = {n: (doc_ms if n == "docs" else 1000) for n in QUERY_NAMES}
    queries = {n: _summarize(p, budget[n]) for n, p in progress.items()}
    state = {
        "reservoir_rows": pipe.reservoir.read_reservoir(spark).count(),
        "reservoir_bytes": _du(os.path.join(out_dir, "reservoir")),
        "cms_sketch_bytes": _du(os.path.join(out_dir, "cms_sketch")),
        "cms_geometry": {"rows": pipe.heavy_hitters.rows,
                         "width": pipe.heavy_hitters.width},
        "band_index_rows": pipe.neardup.read_bands(spark).count(),
        "band_index_bytes": _du(os.path.join(out_dir, "idx_bands")),
        "band_index_files": sum(
            1 for _, _, fs in os.walk(os.path.join(out_dir, "idx_bands"))
            for fn in fs if fn.endswith(".parquet")),
        "sink_bytes": _du(pipe.trades_path),
        "txn_manifests": len(os.listdir(
            os.path.join(pipe.trades_path, "_txn"))),
    }
    # ---- burst analysis (r12 directive 5): import-leg latency DURING
    # the doc-side burst window vs outside it.  The window is located
    # from the doc legs' own progress (triggers that consumed more
    # than the steady per-trigger quota), not assumed from the file
    # indices — consumption can lag the drop.
    burst = None
    if args.burst_factor > 1:
        import datetime as _dt

        def _ts(p):
            return _dt.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()

        quota = args.docs_per_file * args.doc_files_per_trigger
        bursty = [p for p in progress["docs"]
                  if int(p.get("numInputRows", 0)) > quota]
        if bursty:
            w0 = min(_ts(p) for p in bursty)
            w1 = max(_ts(p) + p["durationMs"]["triggerExecution"] / 1e3
                     for p in bursty)
            imp = [p for p in progress["import"]
                   if int(p.get("numInputRows", 0))]
            during = [p["durationMs"]["triggerExecution"] for p in imp
                      if w0 <= _ts(p) <= w1]
            outside = [p["durationMs"]["triggerExecution"] for p in imp
                       if not (w0 <= _ts(p) <= w1)]
            nd_during = [p["durationMs"]["triggerExecution"]
                         for p in bursty]
            burst = {
                "factor": args.burst_factor,
                "burst_files": args.burst_triggers,
                "window_sec": round(w1 - w0, 1),
                "burst_doc_triggers": len(bursty),
                "import_during": {
                    "n": len(during), "p50": _pct(during, 50),
                    "p95": _pct(during, 95)},
                "import_outside": {
                    "n": len(outside), "p50": _pct(outside, 50),
                    "p95": _pct(outside, 95)},
                "neardup_burst_wall_ms": {
                    "p50": _pct(nd_during, 50),
                    "p95": _pct(nd_during, 95)},
                # the weighted-pool knob was retired r13 (null A/B
                # result); record the retirement, not a live arm
                "fair_weights_env": "retired-r13",
            }

    # ---- compaction timeline (r12 directive 4): segment writes the
    # index performed DURING the run, from its own events log
    compaction = None
    ev_path = os.path.join(out_dir, "compaction_events.jsonl")
    if os.path.exists(ev_path):
        with open(ev_path) as f:
            evs = [json.loads(line) for line in f]
        compaction = {
            "minors": sum(e["kind"] == "minor" for e in evs),
            "majors": sum(e["kind"] == "major" for e in evs),
            "timeline": [
                {"t_rel_sec": round(e["wall"] - t0, 1),
                 "relation": e["relation"], "kind": e["kind"],
                 "segment": e["segment"], "consumed": e["consumed"]}
                for e in evs],
        }

    # ---- capacity (r13 directive 5): the near-dup leg's sustained
    # ingest rate — THE backfill-cutover number (README "Cold-corpus
    # backfill").  docs_in/wall is the sustained rate whatever the
    # backlog; at saturation (p95 over budget) it IS the leg's
    # capacity; below saturation it just echoes the offered rate and
    # capacity is ">= offered" (recorded as such).
    nd_q = queries["docs"]
    nd_sustained = round(nd_q["input_rows"] / wall, 1) if wall else None
    capacity = {
        "neardup_docs_per_sec_sustained": nd_sustained,
        "neardup_offered_docs_per_sec": args.docs_per_file
        * args.doc_files_per_trigger
        / (doc_ms / 1000.0),
        "neardup_saturated": bool((nd_q["p95_over_budget"] or 0) > 1.0),
        "note": ("sustained == capacity only when saturated; "
                 "unsaturated runs prove capacity >= offered"),
    }

    # per-consumer wall times inside the single doc query's
    # foreachBatch (read_tokenize is the shared scan)
    doc_legs = None
    if pipe.doc_leg_s:
        rows_with_data = [r for r in pipe.doc_leg_s if r.get("n_docs")]
        doc_legs = {"triggers": len(pipe.doc_leg_s),
                    "data_triggers": len(rows_with_data)}
        if rows_with_data and "rdd_cache_entries" in rows_with_data[-1]:
            doc_legs["rdd_cache_entries_last"] = \
                rows_with_data[-1]["rdd_cache_entries"]
            doc_legs["rdd_cache_entries_seq"] = [
                r.get("rdd_cache_entries") for r in rows_with_data]
        for k in ("read_tokenize", "neardup", "cms", "decontam",
                  "reservoir", "total"):
            xs = [int(r[k] * 1000) for r in rows_with_data if k in r]
            if xs:
                doc_legs[k + "_ms"] = {"p50": _pct(xs, 50),
                                       "p95": _pct(xs, 95),
                                       "max": max(xs)}

    # default=None: a run too short for any query to record trigger
    # progress must still emit its artifact, not die in the summary
    # (ADVICE r10)
    saturating = max(
        (n for n in queries if queries[n]["batches"]),
        key=lambda n: queries[n]["p95_over_budget"] or 0, default=None)
    artifact = {
        "config": {
            "duration_sec": args.duration,
            "trigger": "1 second",
            "trades_rows_per_trigger": args.rows_per_batch,
            "trades_users": args.users or 50,
            "docs_per_trigger": args.docs_per_file,
            "doc_trigger": args.doc_trigger or "1 second",
            "doc_files_per_trigger": args.doc_files_per_trigger,
            "sf_dir": args.sf_dir,
            "preseed_docs": args.preseed_docs,
            "band_index_rows_at_start": preseed_rows,
            "stream_shuffle_partitions": args.stream_shuffle_partitions,
            "burst_factor": args.burst_factor,
            "neardup_compact_every": args.neardup_compact_every,
            "neardup_max_segments": args.neardup_max_segments,
            "fair_weights_env": "retired-r13",
            "note": ("per-query percentiles cover the WHOLE run "
                     "(progress drained every 5 s, keyed by batchId)"),
        },
        "throughput": {
            "trades_offered_rows_per_sec": args.rows_per_batch,
            "trades_achieved_rows_per_sec": round(
                (sink_rows + dead_rows) / wall, 1),
            "docs_offered_rows_per_sec": args.docs_per_file,
            "sink_rows": sink_rows,
            "dead_letter_rows": dead_rows,
            "wall_sec": round(wall, 1),
        },
        "latency": {
            "sink_to_view_pickup": _view_pickup_lag(
                progress["import"], progress["trends_view"]),
        },
        "queries": queries,
        "state": state,
        "capacity": capacity,
        "saturation": {
            "first": saturating,
            "p95_over_budget": (queries[saturating]["p95_over_budget"]
                                if saturating is not None else None),
        },
    }
    if txn_series:
        artifact["txn_file_count_series"] = {
            "samples": txn_series,
            "max_files": max(s["txn_files"] for s in txn_series),
            "last_files": txn_series[-1]["txn_files"],
            "note": ("live _txn/ listing size every drain; the "
                     "sink's manifest retention must plateau it at "
                     "O(checkpoint interval + retain), not grow "
                     "one file per committed batch"),
        }
    if doc_legs is not None:
        artifact["doc_legs"] = doc_legs
    if burst is not None:
        artifact["burst"] = burst
    if compaction is not None:
        artifact["compaction"] = compaction
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=2)
    print(json.dumps(artifact["throughput"]))
    print(json.dumps(artifact["saturation"]))
    if doc_legs is not None:
        print(json.dumps({"doc_legs": {
            k: v for k, v in doc_legs.items() if k.endswith("_ms")}}))
    if compaction is not None:
        print(json.dumps({"compaction": {
            "minors": compaction["minors"],
            "majors": compaction["majors"]}}))
    if burst is not None:
        print(json.dumps({"burst": burst}))
    print(f"wrote {args.out}")
    if not args.keep_workdir:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    if args.min_majors and (compaction is None
                            or compaction["majors"] < args.min_majors):
        raise SystemExit(
            f"soak gate: {0 if compaction is None else compaction['majors']} "
            f"major compactions < required {args.min_majors}")
    if (args.min_neardup_docs_per_sec
            and (nd_sustained or 0) < args.min_neardup_docs_per_sec):
        raise SystemExit(
            f"capacity gate: near-dup sustained {nd_sustained} docs/s "
            f"< required {args.min_neardup_docs_per_sec}")


if __name__ == "__main__":
    main()
