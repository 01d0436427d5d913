"""The session's build-once structures by name (``BUILDS``), and the
offline index-build phase that builds them before queries run.

``index(spark, sf_dir, name)`` returns a structure from the session
store (plans/cache.py ``SESSION``), building it on first use:

- ``ivf_index`` — the trained ANN index: coarse quantizer and IVF-PQ
  codebooks, trained on the driver from one bounded sample
  (operators/kmeans.py ``TRAIN_ROWS``), and the one persisted
  (id, cell, dist, c0..c3) relation of the single encode pass, which
  the k-means, IVF, IVF-PQ and SemDeDup queries all project.  An ANN
  deployment builds this offline (FAISS trains its quantizer before
  serving), not as a per-query side effect.
- the dedup family's ``tokens`` pass and the candidate relations
  derived from it.

Built lazily, the one-time cost would land in whichever query runs
first (bench.py run-1 measured ~20 s heavier than run-2).
``prepare_indexes`` makes the build phase explicit and separately
timable, so query timings measure search over built indexes.  After
the token relation it runs its four independent builds (IVF index,
Jaccard pairs, MinHash pairs, SimHash sigs) as concurrent Spark jobs:
on a small corpus each build is bound by planning and the per-job
floor, not by data, so one after another they leave most executor
slots idle.  Its per-build times therefore overlap, and its ``total``
is the wall time of the phase.
Decontamination needs no build step: its query is one hash join over
the split documents.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from currency_market_pulse_spark.functions.text import tokens
from currency_market_pulse_spark.operators import dedup as D
from currency_market_pulse_spark.operators.kmeans import KMEANS_ITER, coarse_k
from currency_market_pulse_spark.operators.pq import ivfpq_fit
from currency_market_pulse_spark.plans.cache import SESSION
from currency_market_pulse_spark.sources.catalog import (
    _table_bytes, load_table,
)

#: Persist the shared TOKEN relation only above this on-disk
#: documents.parquet size (VERDICT r4 item 1).  The amortization story
#: is scale-dependent, and both regimes were MEASURED:
#:   - sf1 (6 MB, 50k docs): the repartition+persist is the win that
#:     fixed input-split starvation (minhash 15.5s -> 2.5s, SCALE.md);
#:   - sf0.1 (0.6 MB, 5k docs): the same persist is net-NEGATIVE — the
#:     first family consumer pays a tiny-corpus shuffle + cache
#:     materialization + an InMemoryRelation boundary that blocks
#:     whole-stage codegen fusion, for a relation whose recompute cost
#:     at 5k docs is small (BENCH_r03->r04: ngram_jaccard 2.43->3.43s).
#: The DERIVED relations (jaccard pairs, minhash bands, simhash sigs)
#: stay persisted at every scale: they are tiny (near-dup pairs resp.
#: rows/doc) so materialization is ~free, while recompute repeats the
#: expensive candidate join / signature aggregation — unpersisting them
#: at sf0.1 was measured strictly worse (components 1.9s -> 4.6s, the
#: iterative closure re-deriving its edge relation).  The derived
#: relations are persisted for a second reason too: the candidate
#: self-joins read their signature relation TWICE, and AQE's exchange
#: reuse does not fire across the persisted-token cache boundary (it
#: cannot canonicalize two TableCacheQueryStages as equal — tools/
#: plan_audit.py RUNTIME_EXPECTATIONS note).
#: 2 MiB sits between the two measured regimes.  Unstatable sizes
#: (remote paths, missing file) default to PERSIST — at 100 TB the
#: cache is always the right call, small fixtures are the special case.
_PERSIST_MIN_BYTES = 2 << 20


def _ivf_index(spark: SparkSession, sf_dir: str):
    """(centroids, codebooks, encoded): centroids and codebooks are
    local relations, ``encoded`` is persisted and materialized here."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = coarse_k(emb.count())   # one count at index-BUILD time
    cents, codebooks, encoded = ivfpq_fit(emb, k, KMEANS_ITER)
    # compressed parquet makes the corpus 1-2 input splits even at sf1
    # (the token relation's lesson): spread the persisted index so
    # every search over it uses the full executor pool.  Spreading the
    # narrow encoded rows, not the vectors, keeps the sample's
    # TakeOrdered free of a shuffle.
    encoded = encoded.repartition(
        spark.sparkContext.defaultParallelism).persist()
    encoded.count()   # materialize once; every consumer reuses
    return cents, codebooks, encoded


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token-array) — the pass every dedup family member
    starts with (parquet scan + lower + regex split).  The PRE-EXPLODE
    arrays are shared: the exploded string shingles were measured
    SLOWER to cache than to recompute JVM-side (r2), so shingling stays
    recompute-from-tokens."""
    # repartition to full parallelism in EVERY regime: a text corpus is
    # small ON DISK (compressed parquet — sf0.1's 5k docs are ONE input
    # split, sf1's 50k two) but the family's derived work (shingle
    # explode -> 3 md5/shingle) is heavy PER ROW, so scan-aligned
    # partitioning strands 30+ of 32 cores (measured at sf1: minhash
    # 15.5s -> 4.3s; at sf0.1 dropping the repartition cost minhash
    # 1.4s -> 2.3s).  The shuffle itself is tiny (corpus rows,
    # pre-explode).
    toks = (load_table(spark, sf_dir, "documents")
            .select("doc_id", tokens(F.col("text")).alias("_t"))
            .repartition(spark.sparkContext.defaultParallelism))
    size = _table_bytes(sf_dir, "documents")
    if size is None or size >= _PERSIST_MIN_BYTES:
        toks = toks.persist()
        toks.count()   # materialize once; every family member reuses
    return toks


def tokens_if_persisted(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The shared token relation ONLY when it is actually persisted
    (the >= _PERSIST_MIN_BYTES regime), else None so consumers fall
    back to their own scan+tokenize.

    r17 measurement: below the persist threshold the "shared" relation
    is a plain unpersisted plan ending in a repartition — every
    consumer subtree then re-runs scan+tokenize AND pays the
    repartition exchange, which is strictly worse than the consumer's
    own fused scan+tokenize (tfidf_top_terms regressed 1.3 -> 3.4 s at
    sf0.1 when it consumed the unpersisted relation: its n_docs count,
    previously a column-pruned scan-only count, became a full
    tokenize+shuffle).  Above the threshold the relation is cached
    once for the whole text/dedup family and sharing is the win the
    family has measured since r2."""
    toks = index(spark, sf_dir, "tokens")
    return toks if toks.is_cached else None


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, jaccard) — the expensive shingle self-join,
    consumed verbatim by dedup_ngram_jaccard and both components
    queries (VERDICT r2 item 7); tiny (near-dup candidates)."""
    toks = index(spark, sf_dir, "tokens")
    # materialize (r18, VERDICT r17 item 3) — SMALL regime only (the
    # token relation unpersisted): below _PERSIST_MIN_BYTES the build
    # is driver/scheduling-bound and one materialized copy of the
    # capped shingle relation beats re-deriving it per self-join side
    # (interleaved A/B at sf0.1, min of 5: 1.67 -> 1.35 s, -19%).
    # ABOVE the threshold the derivation is parallel executor compute
    # and recomputation wins — the barrier + block I/O cost more (sf1
    # interleaved A/Bs: recompute 3.56 s vs localCheckpoint 4.78 vs
    # persist 4.28, min-vs-min) — so the at-scale path keeps the
    # two-sided derivation, exactly like the C5 token-sharing split.
    pairs = D.ngram_jaccard_pairs(
        None, n=3, threshold=0.5,
        shingles_df=D.shingles_from_tokens(toks, n=3),
        materialize=not toks.is_cached,
    ).persist()
    pairs.count()
    return pairs


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH_BANDS rows per doc, read twice by the band self-join."""
    return D.minhash_bands(D.minhash_signatures(
        None, shingles_df=D.shingles_from_tokens(
            index(spark, sf_dir, "tokens"), n=3))).persist()


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate PAIR relation: `dedup_minhash_lsh`
    returns it verbatim, the LSH pipeline probes it twice (semi-join
    prune ids + verify join), and the recall gate compares against it
    — without the share, each consumer re-runs the band self-join."""
    pairs = D.pairs_from_bands(
        index(spark, sf_dir, "minhash_bands")).persist()
    pairs.count()   # materializes the bands it reads, too
    return pairs


def _simhash60_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(None, bits=D.SIMHASH64_BITS,
                     tokens_df=index(spark, sf_dir, "tokens")).persist()


def _simhash60_n(spark: SparkSession, sf_dir: str) -> int:
    """Row count of ``simhash60_sigs``, counted at index-BUILD time
    (VERDICT r9 item 5): the corpus-adaptive band geometry needs
    n_docs, and counting inside the registered query made the search
    path trigger an extra action per invocation.  The count IS the
    action that materializes the persisted signatures, so it is free,
    and ``dedup_simhash``'s search path is action-free once
    ``prepare_indexes`` has run."""
    return index(spark, sf_dir, "simhash60_sigs").count()


def _simhash16_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(None,
                     tokens_df=index(spark, sf_dir, "tokens")).persist()


BUILDS = {
    "ivf_index": _ivf_index,
    "tokens": _tokens,
    "jaccard_pairs": _jaccard_pairs,
    "minhash_bands": _minhash_bands,
    "minhash_pairs": _minhash_pairs,
    "simhash60_sigs": _simhash60_sigs,
    "simhash60_n": _simhash60_n,
    "simhash16_sigs": _simhash16_sigs,
}


def index(spark: SparkSession, sf_dir: str, name: str):
    """The session-shared structure ``name`` (a key of ``BUILDS``) of
    ``sf_dir``, built on first use."""
    build = BUILDS[name]
    return SESSION.get(spark, sf_dir, name, lambda: build(spark, sf_dir))


def prepare_indexes(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every session-shared trained structure for ``sf_dir`` and
    return {structure: build_seconds}.

    The token relation is built first; the four builds that derive
    from it or from nothing (IVF index, Jaccard pairs, MinHash pairs,
    SimHash sigs) then run as concurrent Spark jobs from one Python
    thread each, in the caller's job group and scheduler pool.  Their
    shared dependencies build once (``SESSION``'s single-flight).  A
    failed build is re-raised once all four have finished, and the next
    call retries it.  The per-key times overlap, so ``total`` is the
    wall time of the phase, not their sum.

    Idempotent: each build called here materializes what it persists,
    so a repeat call is a store hit that runs no Spark job."""
    t0 = time.time()
    times: dict[str, float] = {}

    def _timed(key: str, name: str) -> None:
        t = time.time()
        index(spark, sf_dir, name)
        times[key] = round(time.time() - t, 3)

    _timed("token_relation", "tokens")
    # simhash60_n counts the persisted signatures here, so
    # dedup_simhash's search path is action-free
    builds = {"coarse_quantizer": "ivf_index",
              "jaccard_pairs": "jaccard_pairs",
              "minhash_bands": "minhash_pairs",
              "simhash_sigs": "simhash60_n"}
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        # one wrap per build: each thread gets its own copy of the
        # caller's local properties (job group, pool, description)
        futures = [pool.submit(inheritable_thread_target(spark)(_timed),
                               key, name) for key, name in builds.items()]
    for f in futures:
        f.result()
    # the trained ANN index is ONE build (one sample, one encode pass):
    # ``coarse_quantizer`` carries all of it, ``ivfpq_index`` is a hit
    _timed("ivfpq_index", "ivf_index")
    times["total"] = round(time.time() - t0, 3)
    return times
