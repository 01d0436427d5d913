"""Offline index-build phase: materialize the session-shared trained
structures a production deployment builds ONCE, before queries run.

The engine keeps two kinds of state per (session, sf_dir):

- **trained indexes** — the corpus-adaptive coarse quantizer and the
  IVF-PQ codebooks/codes (queries/ivf.py ``_shared_coarse`` /
  ``_shared_ivfpq``).  Both quantizers train on the driver from one
  bounded sample (at most ``TRAIN_ROWS`` hash-smallest vectors,
  operators/kmeans.py — the whole corpus at every gated scale), and
  one encode pass over the corpus yields the single persisted
  (id, cell, dist, c0..c3) relation both handles project.  So the
  ``coarse_quantizer`` timing carries the whole index build and
  ``ivfpq_index`` is a cache hit.  These are the relations an ANN
  deployment persists offline (FAISS trains its quantizer before
  serving; an IVF index on 100 TB of embeddings is a batch job, not a
  per-query side effect).
- **shared scan relations** — the dedup family's token pass and its
  derived candidate relations (queries/dedup.py ``_corpus``), built
  lazily by the first consumer.

Both are built lazily on first use, which is correct for ad-hoc
sessions but smears the one-time build cost into whichever query
happens to run first — bench.py run-1 measured ~20 s heavier than
run-2 purely from these first-touch builds (BENCH_QUERIES.json
``run_totals_sec``).  ``prepare_indexes`` makes the build phase
explicit and separately timable; bench.py reports it as
``index_build_sec`` in BENCH_QUERIES.json instead of silently charging
it to the first unlucky query.  Query timings then measure what a
deployed engine's queries cost: search over already-built indexes.

Decontamination needs no build step: its query is one hash join over
the split documents.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession


def prepare_indexes(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every session-shared trained structure for ``sf_dir`` and
    return {structure: build_seconds}.  Idempotent — rebuilding an
    already-cached structure is a cache hit (~0 s)."""
    from currency_market_pulse_spark.queries import dedup as qd
    from currency_market_pulse_spark.queries import ivf as qi

    times: dict[str, float] = {}

    def _timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        times[name] = round(time.time() - t0, 3)

    # trained ANN index: one sample, one encode pass (see docstring)
    _timed("coarse_quantizer", lambda: qi._shared_coarse(spark, sf_dir))
    _timed("ivfpq_index", lambda: qi._shared_ivfpq(spark, sf_dir))
    # dedup family: token pass + persisted derived candidate relations
    _timed("token_relation",
           lambda: qd._shared_tokens(spark, sf_dir).count())
    _timed("jaccard_pairs",
           lambda: qd._shared_jaccard_pairs(spark, sf_dir).count())
    _timed("minhash_bands",
           lambda: qd._shared_band_pairs(spark, sf_dir).count())
    # simhash signatures + the corpus count driving the adaptive band
    # geometry (VERDICT r9 item 5): counting here makes dedup_simhash's
    # search path action-free.
    _timed("simhash_sigs",
           lambda: qd._shared_simhash60(spark, sf_dir))
    times["total"] = round(sum(times.values()), 3)
    return times
