"""Cold-corpus backfill -> streaming handoff for the near-dup index
(VERDICT r12 directive 3).

SCALE.md's documented posture for a cold 100 TB corpus is "batch-dedup
first, then stream the remainder": the streaming probe's per-batch
costs (python round trips, tail writes, driver bookkeeping) are the
wrong tool for an initial bulk load, while the batch LSH pipeline
(shingles -> minhash bands -> band-collision candidates ->
exact-jaccard verify) runs at full shuffle width.  This module makes
that posture an executed, tested workflow:

    nd = StreamingNearDup(...)
    cold_dups = backfill_bootstrap(nd, cold_corpus_df)
    # ... then attach the stream; every later micro-batch probes the
    # seeded standing index exactly as if the cold corpus had been
    # streamed in.

Equality contract (test-pinned,
tests/test_backfill_handoff.py): backfill(cold) + stream(rest) is
dup-for-dup identical to streaming the WHOLE corpus — same dup log
(new_id, dup_of, jaccard) over all documents and the same standing
index contents — provided doc_ids are ingested in increasing order
(the first-owner convention both paths share).  That holds because
the batch leg reproduces the probe's semantics with batch operators:

- exact stage: md5 group, lowest doc_id owns, copies flagged at
  jaccard 1.0 and NOT indexed (exact equality is transitive —
  neardup_stream.py module docstring);
- near-dup stage over exact-novel first-owners: the same
  shingles/bands primitives (operators/dedup.py), band-collision
  candidates, exact-jaccard verify at the handler's threshold;
- ranking: best match per new doc = max jaccard, tie -> lower
  dup_of (the handler's _rank_and_write window, verbatim).

The cold dup log lands in ``nd.dups_path`` under the RESERVED
partition ``batch_id=-1`` — streaming batch ids start at 0, so replay
idempotency of the first streamed batch can never collide with the
backfill's output.  The index seed goes through
``StreamingNearDup.seed_index`` (base ``segment=0``; streaming minor
segments take ids >= 1 = their compacting batch id, tier merges
>= 10**12, so the id spaces stay disjoint).

At 100 TB: every stage here is full-width — the md5 owner is one
shuffle of constant-width keys, candidates are band-bucketed (never
all-pairs), verify is candidate-bounded, and seed_index writes
bucket-partitioned sorted segments sized by input bytes.  Nothing is
collected to the driver.

CLI: ``python -m currency_market_pulse_spark backfill --docs-path ...
--index-dir ...`` (see __main__.py; README "Cold-corpus backfill").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.functions.text import tokens
from currency_market_pulse_spark.operators import dedup as D
from currency_market_pulse_spark.streaming.neardup_stream import (
    StreamingNearDup, refuse_sharded_roots,
)

#: the backfill's dup-log partition — below every streaming batch id
BACKFILL_BATCH_ID = -1


def cold_corpus_dups(docs: DataFrame,
                     threshold: float = 0.5) -> DataFrame:
    """The cold corpus's dup log with the streaming probe's semantics,
    computed by batch operators at full shuffle width: (new_id,
    dup_of, jaccard), one row per flagged document — its best match.
    """
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    owned = hashed.withColumn(
        "_own", F.min("doc_id").over(Window.partitionBy("h")))
    exact_hits = (owned.filter(F.col("doc_id") != F.col("_own"))
                  .select(F.col("doc_id").alias("new_id"),
                          F.col("_own").alias("dup_of"),
                          F.lit(1.0).alias("jaccard")))
    # exact-novel first-owners: the only docs that shingle and index
    rem = docs.join(
        owned.filter(F.col("doc_id") == F.col("_own"))
        .select("doc_id"), "doc_id")
    toks = rem.select("doc_id", tokens(F.col("text")).alias("_t"))
    sh = D.shingles_from_tokens(toks)
    bands = D.minhash_bands(D.minhash_signatures(None, shingles_df=sh))
    near_hits = (D.jaccard_verify_candidates(
        sh, D.pairs_from_bands(bands), threshold=threshold)
        .select(F.col("id_b").alias("new_id"),
                F.col("id_a").alias("dup_of"), "jaccard"))
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"),
                                             "dup_of")
    return (exact_hits.unionAll(near_hits)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("new_id", "dup_of", "jaccard"))


def _require_fresh_index(nd: StreamingNearDup) -> None:
    """Backfill is a FRESH-INDEX-ONLY bootstrap (ADVICE r13):
    ``cold_corpus_dups`` is blind to standing index content and
    ``seed_index`` publishes the fixed ``base/segment=0`` through
    ``MarkerSegmentStore`` (per-file copies plus a ``_committed``
    marker, no rename) — run against a populated index whose segment 0
    is already committed, that publish keeps the committed bytes and
    silently drops the new seed, and the dup log silently misses
    standing near-dups.  Refuse up front with an actionable message
    instead.

    Recovery runs first: it claims each root for the configured
    store's protocol (fail-fast on a protocol mismatch — ADVICE r14
    high) and rolls back a crashed previous seed, so re-running a
    backfill that died mid-publish finds a clean, genuinely fresh
    index instead of a marker-less partial."""
    import os

    # before the dup-log write, so a sharded root stays untouched
    refuse_sharded_roots(nd.bands_path, nd.shingles_path)
    for root in (nd.bands_path, nd.shingles_path, nd.hashes_path):
        nd._recover_root(root)
    dirty = [root for root in (nd.bands_path, nd.shingles_path,
                               nd.hashes_path)
             if any(os.path.isdir(os.path.join(root, t))
                    and os.listdir(os.path.join(root, t))
                    for t in ("base", "tail"))]
    if dirty:
        raise ValueError(
            "backfill_bootstrap requires an EMPTY standing index — it "
            "is a cold-corpus bootstrap, not an incremental load "
            f"(non-empty: {dirty}).  To add a corpus to a standing "
            "index, stream it through process_batch instead; to "
            "rebuild, point --index-dir at a fresh directory.")


def backfill_bootstrap(nd: StreamingNearDup, docs: DataFrame,
                       ) -> DataFrame:
    """Batch-dedup ``docs``, seed ``nd``'s standing index with the
    exact-novel content, and record the cold dup log under
    ``batch_id=-1``.  Returns the cold dup log (new_id, dup_of,
    jaccard).  After this, attach the stream: micro-batches probe the
    seeded index exactly as if the corpus had been streamed.

    Fresh-index-only: raises ValueError if the index already holds
    data (see ``_require_fresh_index``)."""
    _require_fresh_index(nd)
    spark = docs.sparkSession
    docs = docs.persist()
    try:
        dups = cold_corpus_dups(docs, threshold=nd.threshold)
        (dups.withColumn("batch_id",
                         F.lit(BACKFILL_BATCH_ID).cast("bigint"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(nd.dups_path))
        # index the exact-novel first-owners (near-dups included —
        # the streaming probe indexes everything that is not an exact
        # copy, neardup_stream.py module docstring)
        owners = docs.withColumn(
            "_h", F.md5("text")).withColumn(
            "_own", F.min("doc_id").over(Window.partitionBy("_h")))
        nd.seed_index(owners.filter(F.col("doc_id") == F.col("_own"))
                      .select("doc_id", "text"))
        return nd.read_dups(spark).filter(
            F.col("batch_id") == BACKFILL_BATCH_ID) \
            .select("new_id", "dup_of", "jaccard")
    finally:
        docs.unpersist()
