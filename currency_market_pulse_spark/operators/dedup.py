"""Deduplication operators for large-scale training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the point of each variant):

- exact: one hash-shuffle on the dedup key; at 100 TB group on
  md5(text) (fixed 32-byte key) instead of the full text to keep
  shuffle rows small.
- n-gram Jaccard: exact pairwise similarity but only over pairs that
  share >=1 shingle (the shingle self-join IS the candidate generator).
  Cost is sum over shingles of df^2 — usable when shingle frequencies
  are bounded; document-frequency caps handle stopword-shingle skew.
- MinHash+LSH: replaces the pairwise join with band-bucket grouping:
  K min-hashes per doc (one shuffle), b bands, pairs only within equal
  band signatures.  Collision probability 1-(1-j^r)^b — tune (K, b) per
  target threshold.  This is THE 100 TB near-dup workhorse.
- SimHash: one 16-bit signature per doc; identical-signature buckets are
  near-dup candidates.  Cheapest, coarsest.
- embedding cosine: semantic near-dup; brute pairwise here, LSH-bucketed
  in similarity.py for the scale path.

Every hash is from the portable md5 family (functions/text.py) or, for
ExactSubstr windows, an integer polynomial hash, so the DuckDB oracles
reproduce results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.materialize import shared

from currency_market_pulse_spark.functions.text import (
    hex_hash64, seeded_md5, shingles, tokens,
)

# MinHash configuration: 12 hashes in 4 bands of 3. For jaccard j the
# candidate probability is 1-(1-j^3)^4: ~0.06 at j=0.25, ~0.99 at j=0.9.
MINHASH_K = 12
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS

SIMHASH_BITS = 16


def exact_dedup_groups(df: DataFrame, key: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct key: the kept (minimum) id and copy count.
    Grouping on md5(key) — constant-width shuffle key at any text size;
    md5 collisions are negligible (and would only merge groups)."""
    return (
        df.groupBy(F.md5(F.col(key)).alias("key_hash"))
        .agg(F.min(id_col).alias("keeper_id"),
             F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def dedup_keep_first(df: DataFrame, key_cols: list[str],
                     order_col: str) -> DataFrame:
    """Keep the first row per key (row_number == 1) — the streaming-
    friendly exact dedup that preserves full rows."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def shingles_from_tokens(toks_df: DataFrame, n: int = 3,
                         id_col: str = "doc_id",
                         tok_col: str = "_t") -> DataFrame:
    """(id, n_sh, shingle) from a pre-tokenized (id, token-array)
    relation — one exploded row per DISTINCT shingle, with the doc's
    distinct-shingle count computed BEFORE the explode.

    Taking the TOKEN relation (not the exploded shingles) as the shared
    input is deliberate: the token arrays are corpus-sized and persist
    well, while caching the exploded string shingles was measured
    SLOWER than recomputing them JVM-side (queries/dedup.py r2 note).

    Built as staged projections on purpose: composing
    explode(size(array_distinct(shingles(tokens(text))))) in one select
    inlines the full tokenize+shingle expression into the post-Generate
    projection, re-evaluating it once per EXPLODED ROW (O(tokens^2) per
    doc — measured 30x slowdown).  Staging materializes the token array
    and shingle array once per doc; the explode then touches only bound
    columns."""
    arr = toks_df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(tok_col), n)).alias("_sharr"))
    pre = arr.select(F.col(id_col), F.size("_sharr").alias("n_sh"),
                     F.col("_sharr"))
    # explode_outer, not explode: InferFiltersFromGenerate would add a
    # size(...)>0 scan filter with the WHOLE shingle expression inlined
    # (re-splitting the text per element — O(tokens^2) per doc, measured
    # 4x wall on this op).  Outer explode skips that rule; the NULL rows
    # it emits for empty arrays never match an equality join.
    sh = pre.select(F.col(id_col), "n_sh",
                    F.explode_outer("_sharr").alias("sh"))
    return sh.filter(F.col("sh").isNotNull())


def _doc_shingles(docs: DataFrame, n: int,
                  id_col: str, text_col: str) -> DataFrame:
    """tokenize + shingles_from_tokens (see there for the staging
    rationale)."""
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    return shingles_from_tokens(toks, n, id_col, "_t")


#: Default ceiling on per-shingle document frequency in the jaccard
#: candidate join.  A shingle shared by df docs contributes df^2 join
#: rows; boilerplate/stopword shingles at corpus scale have df in the
#: millions, which no AQE skew split survives.  Shingles above the cap
#: carry ~no discrimination signal anyway (they are corpus-common), so
#: dropping them barely moves jaccard for true near-dups.  512 bounds
#: any one shingle's join output at ~262k rows while sitting far above
#: the test fixtures' max df (25 at sf0.1), keeping the exact oracle
#: green at test scale.
DEFAULT_SHINGLE_DF_CAP = 512


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        max_shingle_df: int | None = DEFAULT_SHINGLE_DF_CAP,
                        shingles_df: DataFrame | None = None,
                        materialize: bool = False,
                        ) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing a shingle.

    Plan: explode distinct shingles (set size piggybacked on each row)
    -> drop shingles with document frequency > max_shingle_df (skew
    guard; see DEFAULT_SHINGLE_DF_CAP) -> self-join on shingle (one
    shuffle; AQE handles residual skew) -> per-pair common count ->
    jaccard.  |A∩B| comes from the join, |A|/|B| ride along as grouping
    keys — no size-lookup joins.

    The df filter is a window count partitioned by shingle — the same
    key the self-join shuffles on, so the exchange is computed once and
    reused by both join sides.  Set sizes n_a/n_b are computed BEFORE
    the cap, so with a finite cap the jaccard of pairs relying on
    super-common shingles is understated (never overstated); pass
    ``max_shingle_df=None`` for the exact-at-any-cost variant.

    ``shingles_df`` optionally injects a pre-computed (and typically
    persisted) ``_doc_shingles`` scan so several dedup operators over
    the same corpus share ONE tokenize+shingle pass — the shared-scan
    pattern for multi-signal dedup pipelines (see queries/dedup.py).
    """
    sh = (shingles_df if shingles_df is not None
          else _doc_shingles(docs, n, id_col, text_col))
    if max_shingle_df is not None:
        wdf = Window.partitionBy("sh")
        sh = (sh.withColumn("_df", F.count("*").over(wdf))
              .filter(F.col("_df") <= max_shingle_df).drop("_df"))
    if materialize:
        # r18 (guide §3.3, VERDICT r17 item 3): BOTH self-join sides
        # re-derived the tokenize+shingle+explode+df-window subtree --
        # AQE exchange reuse does not fire across a persisted-token
        # cache boundary (TableCacheQueryStage canonicalization,
        # tools/plan_audit.py), so the derivation executed once per
        # side.  One materialized copy feeds both; the window's
        # hash(sh) partitioning survives the checkpoint, so the
        # self-join re-sorts but does not re-shuffle.  Opt-in because
        # a one-shot caller over a tiny corpus is better off without
        # the materialization barrier.
        sh = shared(sh)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 F.col("a.n_sh").alias("n_a"),
                 F.col("b.n_sh").alias("n_b"))
        .agg(F.count("*").alias("n_common"))
        .withColumn("jaccard", F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: each seeded md5 yields 128 bits = four independent 32-bit (8 hex
#: char) hash values; 12 signatures cost 3 md5 calls per shingle
#: instead of 12 (4x less hashing — md5 dominates this operator).
MINHASH_SLICES = 4


def minhash_hash_expr(i: int, sh_col):
    """Portable min-hash function i: 8-hex-char slice i%4 of
    md5('<i//4>|' || shingle), parsed as a LONG.  Numeric on purpose:
    lexicographic min of fixed-width hex equals numeric min of its
    integer value, and a long min-aggregate has a mutable buffer so
    Spark plans a HashAggregate — min over STRINGS falls back to
    SortAggregate, which sorts the whole exploded shingle relation per
    partition (measured 9.4x scaling on 10x data vs 4.4x after this
    change).  DuckDB twin:
    CAST(('0x' || substr(md5('<i//4>|' || sh), <(i%4)*8+1>, 8)) AS BIGINT)."""
    return F.conv(F.substring(seeded_md5(i // MINHASH_SLICES, sh_col),
                              (i % MINHASH_SLICES) * 8 + 1, 8),
                  16, 10).cast("long")


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       shingles_df: DataFrame | None = None) -> DataFrame:
    """K min-hash values per doc: sig_i = min over shingles of hash_i
    (lexicographic min of fixed-width hex == deterministic min-hash;
    portable across engines).  ``shingles_df``: see
    ngram_jaccard_pairs — shares one shingle scan across operators.

    The per-seed md5 is STAGED as a projection before the aggregate
    (one md5 column per seed, the 4 slice-mins of each reading the
    bound column) rather than inlined into all k min() children —
    codegen's subexpression elimination mostly dedups the inlined
    form, but the staged projection is still measured ~15-25% faster
    on this operator and bit-identical (same values, same DuckDB
    twin)."""
    sh = (shingles_df if shingles_df is not None
          else _doc_shingles(docs, 3, id_col, text_col))
    n_seeds = (k + MINHASH_SLICES - 1) // MINHASH_SLICES
    md5s = sh.select(F.col(id_col), *[
        seeded_md5(s, F.col("sh")).alias(f"_m{s}")
        for s in range(n_seeds)])
    aggs = [F.min(F.conv(F.substring(
        F.col(f"_m{i // MINHASH_SLICES}"),
        (i % MINHASH_SLICES) * 8 + 1, 8), 16, 10).cast("long"))
        .alias(f"mh{i}") for i in range(k)]
    return md5s.groupBy(id_col).agg(*aggs)


def minhash_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_sig) — one band row per (doc, band) via a single
    explode of a struct array, NOT a per-band union (which would
    re-evaluate the signature aggregation once per band).  Tiny
    relation: MINHASH_BANDS rows per doc — worth persisting when
    several consumers (or both sides of the candidate self-join) read
    it (see plans/prepare.py ``minhash_bands``)."""
    band_structs = F.array(*[
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws("|", *[
                f"mh{band * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)
            ]).alias("band_sig"))
        for band in range(MINHASH_BANDS)])
    return (sigs.select(F.col(id_col), F.explode(band_structs).alias("bs"))
            .select(id_col, "bs.band", "bs.band_sig"))


def pairs_from_bands(bands: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs from the band relation: equal (band, band_sig)
    self-join, dedup'd across bands."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify_candidates(shingles_df: DataFrame,
                              candidates: DataFrame,
                              threshold: float = 0.5,
                              id_col: str = "doc_id") -> DataFrame:
    """Exact jaccard computed ONLY for the given candidate pairs — the
    verify stage of the production near-dedup pipeline (LSH candidates
    -> exact verification -> components).  Unlike the full shingle
    self-join, the work here is bounded by the candidate set: the
    first join fans each pair out to side A's shingles (~|cand| x
    shingles/doc rows), the second probes side B on (id, shingle).
    No df cap is needed — the candidate restriction already bounds the
    join — so the verified jaccard is the uncapped exact value.

    Both shingle sides are semi-join-pruned to the candidate ids BEFORE
    the (id, shingle) join: without the prune, side B is the FULL
    corpus shingle relation and the equality join shuffles all of it on
    (id_b, sh) — a corpus-sized exchange the candidate set was supposed
    to bound.  ONE id set (union of both candidate roles — computing
    per-role sets would evaluate the candidate plan once more for no
    benefit) is broadcast into both semi-joins, so the corpus-side
    scans never shuffle for the prune; candidate ids are
    near-dup-density-sized, far below corpus size.  (First measured
    variant: un-hinted per-role sets compiled to TWO shuffles of the
    full shingle relation on doc_id plus a THIRD evaluation of the
    candidate plan — worse than no prune at gate scale.)  If a corpus
    ever has too many candidate ids to broadcast, that is the regime
    where the un-pruned shuffle join was correct anyway — drop the
    prune, not the operator."""
    sh = shingles_df
    # no .distinct() on the id set (r18, guide §2.4): the left-semi
    # join dedups by construction, so the distinct bought nothing but
    # one hash exchange + its AQE stage-job per invocation; the
    # broadcast merely carries each id up to twice.
    ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col))
    # r17 (guide §3.3 materialize shared intermediates): ``pruned``
    # feeds BOTH join sides (a on id_a, b on (id_b, sh)) — different
    # keys, so no exchange reuse — and each reference re-derived the
    # full scan+tokenize+shingle+explode subtree before the semi-join
    # prune (the prune does not push below the Generate).  One lazy
    # localCheckpoint runs the derivation once; the checkpointed
    # relation is candidate-bounded (shingles of candidate docs only),
    # the small side of this operator's design at any scale.  Measured
    # at sf0.1: dedup_lsh_components 3.02 -> 2.05 s (min of 5,
    # interleaved A/B, same session).
    pruned = shared(sh.join(F.broadcast(ids), id_col, "left_semi"))
    a = pruned.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"), "sh")
    b = pruned.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("n_b"), "sh")
    # broadcast(candidates) for the fan-out join (r18, guide §3.1):
    # the candidate relation is broadcast-scale BY THIS OPERATOR'S
    # CONTRACT (the id-set broadcast above already assumes it — see
    # the prune note), so hinting it skips the exchange of BOTH first-
    # join sides: `a` streams through a BroadcastHashJoin instead of
    # shuffling on id_a.  Only the second join (on id_b, sh) and the
    # pair aggregate shuffle, and they carry candidate-bounded rows.
    return (
        F.broadcast(candidates).join(a, "id_a").join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("jaccard", F.round(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_corpus_candidates(new_bands: DataFrame, corpus_bands: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """(new_id, corpus_id) candidate pairs: the new batch's band rows
    PROBE the standing corpus's band index on (band, band_sig) — the
    incremental-ingest shape of MinHash LSH.  Unlike the self-join
    dedup, nothing here is quadratic in the CORPUS: the corpus-side
    band relation is the precomputed index (at 100 TB it lives
    bucketed-by band_sig on disk and only matching buckets are read),
    and the join fans out by batch size, not corpus size."""
    a = new_bands.select(F.col(id_col).alias("new_id"), "band", "band_sig")
    b = corpus_bands.select(F.col(id_col).alias("corpus_id"),
                            "band", "band_sig")
    return (a.join(b, ["band", "band_sig"])
            .select("new_id", "corpus_id").distinct())


def cross_jaccard_verify(new_shingles: DataFrame, corpus_shingles: DataFrame,
                         candidates: DataFrame, threshold: float = 0.5,
                         id_col: str = "doc_id") -> DataFrame:
    """Exact jaccard for (new_id, corpus_id) candidates across two
    shingle relations — the verify stage of incremental dedup.  Work
    is bounded by the candidate set exactly as in
    jaccard_verify_candidates; the two sides just come from different
    relations (batch vs standing corpus).  The corpus side is
    semi-join-pruned to candidate corpus ids first — the standing
    corpus is the 100 TB relation, and without the prune its whole
    shingle set shuffles on (corpus_id, sh) even when only a few docs
    ever matched a band."""
    b_ids = candidates.select(F.col("corpus_id").alias(id_col)).distinct()
    a = new_shingles.select(F.col(id_col).alias("new_id"),
                            F.col("n_sh").alias("n_a"), "sh")
    b = (corpus_shingles.join(F.broadcast(b_ids), id_col, "left_semi")
         .select(F.col(id_col).alias("corpus_id"),
                 F.col("n_sh").alias("n_b"), "sh"))
    return (
        candidates.join(a, "new_id").join(b, ["corpus_id", "sh"])
        .groupBy("new_id", "corpus_id", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("jaccard", F.round(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_lsh_candidates(docs: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           shingles_df: DataFrame | None = None) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band are candidate
    near-dup pairs.  One shuffle to build signatures, one per-band
    group; never a full pairwise join."""
    sigs = minhash_signatures(docs, MINHASH_K, id_col, text_col,
                              shingles_df=shingles_df)
    return pairs_from_bands(minhash_bands(sigs, id_col), id_col)


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS,
            id_col: str = "doc_id", text_col: str = "text",
            tokens_df: DataFrame | None = None,
            tok_col: str = "_t") -> DataFrame:
    """Per-doc SimHash over distinct tokens: bit j of the signature is 1
    iff sum over tokens of (+1 if bit j of hash(token) else -1) > 0.

    Computed as ONE hash-aggregate over the exploded distinct tokens
    with ``bits`` conditional-sum columns (bit j's vote is +1/-1 by bit
    j of the token hash), then the signature assembled in a projection.
    Same math as the textbook explode-tokens-x-bits formulation (the
    DuckDB oracle keeps that relational form), but the shuffle carries
    one row per (doc, token) instead of ``bits``x that, and map-side
    partial aggregation compresses it to one row per doc per mapper —
    measured ~2x on this operator.

    ``tokens_df``: optional pre-tokenized (id, token-array) relation —
    shares one (typically persisted) tokenize pass with the shingle
    operators (see shingles_from_tokens / queries/dedup.py).
    """
    if tokens_df is not None:
        toks = tokens_df.select(
            F.col(id_col),
            F.explode(F.array_distinct(F.col(tok_col))).alias("tok"))
    else:
        toks = docs.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
    hashed = toks.withColumn("h", hex_hash64(F.col("tok")))
    votes = hashed.groupBy(id_col).agg(*[
        F.sum(F.when(F.expr(f"shiftright(h, {j})").bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{j}")
        for j in range(bits)])
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0,
                      F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


#: corpus-scale SimHash: 60-bit signatures (hex_hash64's width) with
#: banded hamming-k candidate generation.  SIMHASH_BITS=16 saturates
#: birthday-style once the corpus outgrows 2^bits (measured at sf1:
#: 4.16M hamming-0 pairs from 50k docs — SCALE.md round 4).
SIMHASH64_BITS = 60

#: adaptive-band margin: band width >= ceil(log2(n)) + MARGIN keeps
#: the EXPECTED band-collision candidate mass n^2/2^width per band
#: at most n/2^MARGIN — sublinear in the corpus size.
SIMHASH_BAND_MARGIN = 2


def adaptive_simhash_bands(n_docs: int, bits: int = SIMHASH64_BITS,
                           max_k: int = 3,
                           margin: int = SIMHASH_BAND_MARGIN) -> int:
    """Corpus-adaptive band count for ``simhash_hamming_pairs``
    (VERDICT r8 directive 5, the `dedup_embedding_cells` coarse_k
    precedent): returns n_bands = k+1.

    Fixed 15-bit bands make the per-band candidate mass grow as
    n^2/2^15 — quadratic once n outgrows ~2^15.  The rule WIDENS
    bands (and therefore SHRINKS the recall-complete hamming radius
    k = n_bands-1) as the corpus grows: band width w = bits//n_bands
    must satisfy w >= ceil(log2(n)) + margin, so expected collisions
    per band stay <= n/2^margin — linear-class at any n.  At the
    fixture scales (n <= 8192) this returns max_k+1 = 4 bands of 15
    bits — identical to the pre-r9 fixed geometry; at 50k docs it
    returns 3 bands (k=2, 20-bit bands), at 10^9 docs 1 band (k=0,
    the exact 60-bit signature join).  Shrinking radius with corpus
    size is the standard sketch trade (the SIMHASH_BITS=16 saturation
    note above is the measured failure of NOT doing this)."""
    import math

    w_req = max(1, math.ceil(math.log2(max(2, n_docs))) + margin)
    return max(1, min(max_k + 1, bits // w_req))


def simhash_hamming_pairs(sigs: DataFrame, k: int = 3,
                          bits: int = SIMHASH64_BITS,
                          id_col: str = "doc_id") -> DataFrame:
    """All pairs with hamming(sig_a, sig_b) <= k, WITHOUT an all-pairs
    join: signatures split into k+1 equal bands; by pigeonhole, two
    signatures within hamming k must agree EXACTLY on at least one
    band, so an equality self-join per band generates a candidate
    superset — banding is recall-COMPLETE for the hamming radius, not
    approximate (tests/test_dedup.py proves equality with brute force).
    Cost: one explode (k+1 rows/doc) + one shuffle on (band, value);
    candidate volume is governed by band-collision rates, bits/(k+1)
    per band (15 bits at the defaults).

    Input is a (id, simhash) relation — compose with
    ``simhash(bits=SIMHASH64_BITS)``; share/persist the signature
    relation across consumers as in queries/dedup.py.  Pick ``k``
    with ``adaptive_simhash_bands`` (k = n_bands-1) so the band
    width tracks log2(corpus size) and candidate mass stays linear."""
    n_bands = k + 1
    if bits % n_bands:
        # uneven bands would leave the top bits outside every band —
        # pairs differing only there would be silently missed,
        # breaking the pigeonhole recall-completeness guarantee
        raise ValueError(
            f"bits={bits} not divisible by k+1={n_bands}: bands must "
            f"partition the signature exactly")
    width = bits // n_bands
    mask = (1 << width) - 1
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"shiftright(simhash, {b * width})")
             .bitwiseAND(F.lit(mask)).alias("band_val"))
        for b in range(n_bands)])
    bands = (sigs.select(F.col(id_col), F.col("simhash"),
                         F.explode(band_structs).alias("bs"))
             .select(id_col, "simhash", "bs.band", "bs.band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(
                    F.col("b.simhash"))).alias("hamming"))
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def pairs_from_simhash(sigs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Identical-signature pairs from a (id, simhash) relation — split
    out so the signature side can be persisted once and read by both
    join sides (see plans/prepare.py ``simhash16_sigs``)."""
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("simhash"))
    )


def simhash_bucket_pairs(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         tokens_df: DataFrame | None = None) -> DataFrame:
    """Docs with identical SimHash signatures (hamming distance 0
    buckets).  Near-dup candidates at sketch cost O(1) per doc."""
    s = simhash(docs, SIMHASH_BITS, id_col, text_col, tokens_df=tokens_df)
    return pairs_from_simhash(s, id_col)


#: Target rows per block for the block self-join: keeps each
#: block-pair's BLAS task at ~2*2048*dim*8 bytes of matrix (a few MB at
#: dim<=1024) and its sims buffer at 2048^2*8 = 33 MB.
EMBED_BLOCK_ROWS = 2048


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.4,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_blocks: int | None = None) -> DataFrame:
    """Semantic near-dup: pairs with cosine >= threshold.  EXACT
    all-pairs, fully distributed (no driver materialization — the
    round-1 version collected the corpus to the driver; VERDICT r1).

    Block self-join: each row lands in block ``xxhash64(id) % B`` and is
    replicated to the B block-PAIRS it participates in (one explode ->
    one shuffle of B*n rows).  Each (bi, bj) group holds ~2n/B rows and
    is matmul'd with BLAS inside applyInPandas; every unordered pair is
    scored in exactly one group, so no distinct pass is needed.  Task
    memory is ~2*(n/B)*dim*8 bytes — choose B ~ n*dim*8 / target-task-
    bytes at scale; compute stays O(n^2) because EXACT all-pairs is
    O(n^2) by definition.  For 100 TB prefer the sub-quadratic
    candidate generators (minhash_lsh_candidates / similarity
    .lsh_buckets) and run this kernel within buckets.

    ``n_blocks=None`` auto-sizes B = ceil(n / EMBED_BLOCK_ROWS) from
    one count() of the input — one cheap extra job that keeps tasks at
    a constant memory footprint at every corpus size (B=1 collapses to
    a single in-task matmul for small inputs).

    Zero-norm vectors match nothing (their cosine is NULL in the
    relational twin, functions/vectors.py:cosine)."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if n_blocks is None:
        n_blocks = max(1, math.ceil(emb.count() / EMBED_BLOCK_ROWS))
    B = n_blocks
    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    e = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
                   F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("_blk"))
    # block pairs this row participates in: (min(blk,j), max(blk,j))
    # for every j in range(B) — via a broadcast join against a B-row
    # range, NOT a B-element literal struct array (ADVICE r2: the
    # literal array makes the Catalyst plan O(B) — ~5000 struct
    # literals in one projection at 10M rows — which blows up analysis
    # long before the compute does; the range join keeps plan size
    # O(1) in B).  Distinct per row since {blk, j1} == {blk, j2}
    # implies j1 == j2.
    blocks = F.broadcast(emb.sparkSession.range(B)
                         .select(F.col("id").alias("_j")))
    expl = (e.crossJoin(blocks)
            .select("_id", "_vec", "_blk",
                    F.least(F.col("_blk"), F.col("_j")).alias("_bi"),
                    F.greatest(F.col("_blk"), F.col("_j")).alias("_bj")))

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        if len(pdf) == 0:
            return empty
        bi, bj = key
        ids = pdf["_id"].to_numpy()
        mat = np.array(list(pdf["_vec"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = np.inf  # zero vectors match nothing
        unit = mat / norms
        if bi == bj:
            sims = np.round(unit @ unit.T, 6)
            ai, aj = np.nonzero((sims >= threshold)
                                & (ids[:, None] < ids[None, :]))
            return pd.DataFrame({"id_a": ids[ai], "id_b": ids[aj],
                                 "cos_sim": sims[ai, aj]})
        mi, mj = pdf["_blk"].to_numpy() == bi, pdf["_blk"].to_numpy() == bj
        if not mi.any() or not mj.any():
            return empty
        sims = np.round(unit[mi] @ unit[mj].T, 6)
        ai, aj = np.nonzero(sims >= threshold)
        id_i, id_j = ids[mi][ai], ids[mj][aj]
        return pd.DataFrame({"id_a": np.minimum(id_i, id_j),
                             "id_b": np.maximum(id_i, id_j),
                             "cos_sim": sims[ai, aj]})

    return expl.groupBy("_bi", "_bj").applyInPandas(kernel, out_schema)


def containment_pairs(docs: DataFrame, n: int = 3,
                      threshold: float = 0.8,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      max_shingle_df: int | None = DEFAULT_SHINGLE_DF_CAP,
                      shingles_df: DataFrame | None = None) -> DataFrame:
    """Asymmetric near-dup: containment(A⊆B) = |A∩B| / |A|.

    Flags short documents embedded in longer ones — quotes, boilerplate
    blocks, subset pages — which symmetric jaccard structurally misses
    (a 50-shingle doc fully inside a 5000-shingle doc scores jaccard
    ~0.01 but containment 1.0).  Same candidate join as
    ngram_jaccard_pairs (shared shingle scan injectable, df-capped for
    skew); emits both directions and keeps pairs where EITHER
    containment clears the threshold."""
    sh = (shingles_df if shingles_df is not None
          else _doc_shingles(docs, n, id_col, text_col))
    if max_shingle_df is not None:
        wdf = Window.partitionBy("sh")
        sh = (sh.withColumn("_df", F.count("*").over(wdf))
              .filter(F.col("_df") <= max_shingle_df).drop("_df"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"),
                 F.col("a.n_sh").alias("n_a"),
                 F.col("b.n_sh").alias("n_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("cont_a_in_b",
                    F.round(F.col("n_common") / F.col("n_a"), 6))
        .withColumn("cont_b_in_a",
                    F.round(F.col("n_common") / F.col("n_b"), 6))
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


def chunk_occurrences(docs: DataFrame, chunk_tokens: int = 16,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Passage-level (chunk) occurrence relation: each doc split into
    consecutive ``chunk_tokens``-token chunks; one row per (doc, chunk
    position) with the chunk text and a ``keep`` flag that is true only
    for the globally FIRST occurrence (min (doc_id, idx)) of each
    distinct chunk.

    This is intra-corpus repeated-passage removal — the pipeline stage
    (CCNet / RefinedWeb-style) that strips boilerplate paragraphs and
    quoted blocks that DOCUMENT-level dedup structurally misses: a page
    that is 40% template survives doc dedup untouched, while its
    template chunks are exact duplicates across thousands of docs.

    Scale shape: one explode (corpus tokens / chunk_tokens rows), one
    hash aggregate on md5(chunk) for the first-owner relation (partial
    agg map-side; a boilerplate chunk with huge df costs ONE buffer
    entry, not a sort — this is why the owner is a groupBy-join, not a
    row_number window), one join back on the same key.  The md5 family
    keeps the DuckDB oracle bit-identical."""
    toks_arr = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    n_chunks = F.ceil(F.size("_t") / F.lit(chunk_tokens)).cast("int")
    # sequence(0, -1) DESCENDS (the repo-wide footgun) — empty docs
    # cannot occur after the tokenize of a non-null text (split yields
    # at least one element), but guard anyway.
    chunks = (toks_arr
              .withColumn("_n", n_chunks)
              .filter(F.col("_n") > 0)
              .select(
                  F.col(id_col),
                  F.explode(F.sequence(F.lit(0), F.col("_n") - 1))
                   .alias("idx"),
                  F.col("_t"))
              .select(
                  F.col(id_col), "idx",
                  F.array_join(F.slice(
                      F.col("_t"), F.col("idx") * chunk_tokens + 1,
                      chunk_tokens), " ").alias("chunk"))
              .withColumn("_h", F.md5(F.col("chunk"))))
    owner = (chunks.groupBy("_h")
             .agg(F.min(F.struct(F.col(id_col), F.col("idx")))
                  .alias("_first")))
    return (chunks.join(owner, "_h")
            .withColumn("keep",
                        (F.col(id_col) == F.col("_first")[id_col])
                        & (F.col("idx") == F.col("_first")["idx"]))
            .select(id_col, "idx", "chunk", "keep"))


def chunk_dedup_docs(docs: DataFrame, chunk_tokens: int = 16,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc result of passage-level dedup: chunk counts plus the
    md5 of the SCRUBBED text (kept chunks re-joined in position order
    — hashed so the differential oracle compares a constant-width
    value, the text_pii_scrub pattern).  Fully-duplicated docs come out
    with n_kept = 0 and the md5 of the empty string."""
    occ = chunk_occurrences(docs, chunk_tokens, id_col, text_col)
    kept_sorted = F.array_sort(F.collect_list(
        F.when(F.col("keep"), F.struct(F.col("idx"), F.col("chunk")))))
    return (occ.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.col("keep").cast("long")).alias("n_kept"),
                 F.md5(F.array_join(
                     F.transform(kept_sorted, lambda s: s["chunk"]),
                     " ")).alias("scrubbed_md5"))
            .withColumn("drop_frac", F.round(
                (F.col("n_chunks") - F.col("n_kept"))
                / F.col("n_chunks"), 6))
            .select(id_col, "n_chunks", "n_kept", "drop_frac",
                    "scrubbed_md5"))



#: Exact-substring span detection: window width (chars) and the mod-p
#: selection density.  40 chars approximates Lee et al. 2021's 50-token
#: ExactSubstr threshold at this fixture's ~5-char tokens; 1-in-8
#: content-defined selection keeps the shuffled fingerprint relation at
#: ~len/8 rows per doc.
SPAN_CHARS = 40
SPAN_MODP = 8

#: Window fingerprint: double 31-bit polynomial hash (both moduli
#: prime), base 257, packed H1*2^31 + H2 — 62 bits, collision-safe at
#: corpus scale and oracle-replayable as an exact HUGEINT power sum per
#: window.
ROLL_B = 257
ROLL_M1 = 2_147_483_647   # 2^31 - 1 (prime)
ROLL_M2 = 2_147_483_629   # prime
_ROLL_TABLES: dict = {}


def _roll_tables(n: int):
    """(powinv1, powinv2, pow1, pow2) numpy uint64 tables of length
    >= n — per-executor cached, grown geometrically."""
    import numpy as np

    t = _ROLL_TABLES.get("t")
    if t is None or len(t[0]) < n:
        m = max(n, 4096, 2 * (len(t[0]) if t else 0))
        binv1 = pow(ROLL_B, -1, ROLL_M1)
        binv2 = pow(ROLL_B, -1, ROLL_M2)
        pi1 = np.empty(m, np.uint64)
        pi2 = np.empty(m, np.uint64)
        p1 = np.empty(m, np.uint64)
        p2 = np.empty(m, np.uint64)
        a1 = a2 = b1 = b2 = 1
        for j in range(m):
            pi1[j], pi2[j], p1[j], p2[j] = a1, a2, b1, b2
            a1 = a1 * binv1 % ROLL_M1
            a2 = a2 * binv2 % ROLL_M2
            b1 = b1 * ROLL_B % ROLL_M1
            b2 = b2 * ROLL_B % ROLL_M2
        _ROLL_TABLES["t"] = t = (pi1, pi2, p1, p2)
    return t


def _substring_window_owners(docs: DataFrame,
                             span_chars: int = SPAN_CHARS,
                             modp: int = SPAN_MODP,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Shared stage of the ExactSubstr family: the content-selected
    window relation with its corpus-wide owner statistics — one row
    per selected window with (id, pos, fp, _k, _c, _owner).

    Window fingerprints are double 31-bit polynomial hashes computed
    VECTORIZED per document (numpy): t_j = c_j * B^-j mod M cumsums to
    prefix sums, a window hash is (S[i+w] - S[i]) * B^(i+w-1) mod M —
    ~5 vector ops per document, O(1) work per position.  The 0-mod-p
    selection runs inside the kernel, so only len/modp rows per doc
    leave the Python worker.  Per-doc length bound n < 2^32 (prefix
    cumsum in uint64).

    The narrow PRE-KERNEL corpus is repartitioned to full parallelism:
    a text corpus is small on disk (sf0.1's 5k docs are ONE input
    split) but the per-row work is heavy, so scan-aligned partitioning
    strands all but one core.  The shuffle moves corpus rows, not
    windows.

    Owner stats are a WINDOW over fp, not groupBy + join-back: the
    join form referenced the window relation twice and ran the whole
    MapInPandas kernel once per join side (plan-verified: two
    MapInPandas nodes in
    plans/r17/text_substring_removal_rolling_after.txt).  One window
    pass computes the identical per-fp (count, min); the kernel and
    the Arrow transfer run exactly once.  The owner key packs
    (id, pos) into one BIGINT (id * 1e9 + pos; bound pos < 1e9
    chars/doc)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    span, p = span_chars, modp
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("pos", T.LongType()),
        T.StructField("fp", T.LongType()),
    ])

    def kernel(batches):
        for pdf in batches:
            ids, poss, fps = [], [], []
            for i, text in zip(pdf["_id"], pdf["_txt"]):
                if text is None or len(text) < span:
                    continue
                # r17 (guide §4.2 vectorize inside the kernel): the
                # codepoint array comes from one UTF-32-LE encode +
                # zero-copy frombuffer instead of a per-character
                # Python loop (np.fromiter(map(ord, ...))) — identical
                # values by definition (UTF-32 code units ARE the
                # codepoints; surrogatepass keeps even lone surrogates
                # at their ord() value), measured ~20x faster per doc
                # on the conversion step.
                c = np.frombuffer(
                    text.encode("utf-32-le", "surrogatepass"),
                    dtype="<u4").astype(np.uint64)
                n = len(c)
                w = n - span + 1
                pi1, pi2, p1, p2 = _roll_tables(n)
                t1 = (c * pi1[:n]) % ROLL_M1
                t2 = (c * pi2[:n]) % ROLL_M2
                s1 = np.concatenate(([np.uint64(0)], np.cumsum(t1)))
                s2 = np.concatenate(([np.uint64(0)], np.cumsum(t2)))
                h1 = ((s1[span:] - s1[:-span]) % ROLL_M1
                      * p1[span - 1:span - 1 + w]) % ROLL_M1
                h2 = ((s2[span:] - s2[:-span]) % ROLL_M2
                      * p2[span - 1:span - 1 + w]) % ROLL_M2
                fp = h1 * np.uint64(1 << 31) + h2
                sel = np.nonzero(fp % np.uint64(p) == 0)[0]
                ids.extend([i] * len(sel))
                poss.extend((sel + 1).tolist())
                fps.extend(fp[sel].astype(np.int64).tolist())
            yield pd.DataFrame({id_col: ids, "pos": poss, "fp": fps})

    par = docs.sparkSession.sparkContext.defaultParallelism
    wins = (docs.select(F.col(id_col).alias("_id"),
                        F.col(text_col).alias("_txt"))
            .repartition(par, F.col("_id"))
            .mapInPandas(kernel, out_schema))
    key = (F.col(id_col) * F.lit(1_000_000_000) + F.col("pos")).alias("_k")
    wfp = Window.partitionBy("fp")
    return (wins.select(id_col, "pos", "fp", key)
            .withColumn("_c", F.count(F.lit(1)).over(wfp))
            .withColumn("_owner", F.min("_k").over(wfp)))


def substring_span_stats(docs: DataFrame, span_chars: int = SPAN_CHARS,
                         modp: int = SPAN_MODP,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exact duplicated-SUBSTRING detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr), re-expressed for a distributed engine: the paper's
    single-node suffix array over the concatenated corpus cannot shard,
    so the Spark-first form fingerprints EVERY span_chars-wide
    character window and keeps the content-selected 1/modp of them
    (fp % modp == 0 — "0 mod p" sketching, the same family as
    winnowing, Schleimer et al. 2003 MOSS).  Content-defined selection
    is SHIFT-INVARIANT — both copies of a duplicated run select
    identical run-relative windows regardless of where the run sits in
    each document — which fixed-stride sampling is not (two copies
    aligned differently mod stride sample disjoint offsets and NEVER
    collide; the first cut of this operator had exactly that bug and a
    planted-run test caught it).  A shared verbatim run of R chars is
    missed only if none of its R - span_chars + 1 windows self-selects:
    P(miss) = (1 - 1/modp)^(R-39), ~3e-4 for R = 100 — and
    deterministically reproduced by the oracle either way.

    Output, per doc with >= 1 selected window: fingerprint count,
    fingerprints whose exact 40-char text occurs >= 2 times corpus-wide
    (within-doc repeats count, as in ExactSubstr), the non-first
    occurrences among those (first occurrence ordered by (doc_id, pos)
    owns, the chunk_occurrences rule), and the duplicated fraction.

    Scale shape (_substring_window_owners): one pass of the rolling-
    hash kernel, one window exchange on fp, one per-doc aggregate.  No
    pairwise join anywhere — linear in corpus size, unlike the
    O(sum df^2) shingle self-join."""
    joined = _substring_window_owners(docs, span_chars, modp,
                                      id_col, text_col)
    dup = F.col("_c") >= 2
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_fingerprints"),
                 F.sum(dup.cast("long")).alias("dup_fingerprints"),
                 F.sum((dup & (F.col("_k") != F.col("_owner")))
                       .cast("long")).alias("removable_fingerprints"))
            .withColumn("dup_frac", F.round(
                F.col("dup_fingerprints") / F.col("n_fingerprints"), 6))
            .select(id_col, "n_fingerprints", "dup_fingerprints",
                    "removable_fingerprints", "dup_frac"))


def substring_removal_plan(docs: DataFrame,
                           span_chars: int = SPAN_CHARS,
                           modp: int = SPAN_MODP,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """The APPLY stage of ExactSubstr dedup (Lee et al. 2021 §3.1 drop
    the repeated span, not the document): merge every removable window
    (duplicated corpus-wide, not the first occurrence) into maximal
    per-doc character SPANS and emit the per-doc removal plan — how
    many contiguous spans to cut, how many chars go, how many stay.
    substring_span_stats counts removable windows; this operator turns
    them into the [start, end) intervals an editor actually deletes.

    Interval merge is gaps-and-islands (the events_sessionize shape,
    transplanted from time to character offsets): windows sorted by
    pos within doc; a window opens a new island iff its start lies past
    the running max end of everything before it (adjacent spans merge —
    cutting [0,40)+[40,80) is one splice).  The window sort runs ONLY
    over the removable relation — already filtered to duplicated,
    non-owner windows, a small fraction of the len/modp selected
    fingerprints — partitioned per doc, so no global sort and no
    data-sized window state.  One narrow join back to the corpus
    fetches doc length for the kept-chars arithmetic.

    Output (docs with >= 1 removable window only): n_removable_windows,
    n_spans, removed_chars, kept_chars, removed_frac.
    """
    rem = (_substring_window_owners(docs, span_chars, modp,
                                    id_col, text_col)
           .filter((F.col("_c") >= 2) & (F.col("_k") != F.col("_owner")))
           .select(id_col, "pos",
                   (F.col("pos") + F.lit(span_chars)).alias("_end")))
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("_end").over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1))
    isl = (rem
           .withColumn("_new", (prev_max.isNull()
                                | (F.col("pos") > prev_max))
                       .cast("long"))
           .withColumn("_isl", F.sum("_new").over(
               wdoc.rowsBetween(Window.unboundedPreceding, 0))))
    spans = (isl.groupBy(id_col, "_isl")
             .agg(F.count(F.lit(1)).alias("_nw"),
                  F.min("pos").alias("_s"),
                  F.max("_end").alias("_e")))
    per_doc = (spans.groupBy(id_col)
               .agg(F.sum("_nw").alias("n_removable_windows"),
                    F.count(F.lit(1)).alias("n_spans"),
                    F.sum(F.col("_e") - F.col("_s"))
                    .alias("removed_chars")))
    lens = docs.select(F.col(id_col),
                       F.length(F.col(text_col)).alias("_len"))
    return (per_doc.join(lens, id_col)
            .select(id_col, "n_removable_windows", "n_spans",
                    "removed_chars",
                    (F.col("_len") - F.col("removed_chars"))
                    .alias("kept_chars"),
                    # 6-decimal FLOOR via integer division, not
                    # round(): round() ties (e.g. 41/640 = .0640625)
                    # split between Spark's HALF_UP and DuckDB's
                    # half-even — the sf10 gate caught one at row
                    # 21733 of 365k (r10); integer DIV is exact and
                    # identical in every engine
                    (F.expr("removed_chars * 1000000L DIV _len")
                     / F.lit(1000000.0)).alias("removed_frac")))
