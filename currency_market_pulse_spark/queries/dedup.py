"""Deduplication queries over the ``documents`` / ``embeddings``
fixtures — each variant from operators/dedup.py declared with a DuckDB
oracle that reproduces the identical (md5-family) hash math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from currency_market_pulse_spark.functions.text import tokens
from currency_market_pulse_spark.materialize import shared
from currency_market_pulse_spark.operators import dedup as D
from currency_market_pulse_spark.plans.prepare import index
from currency_market_pulse_spark.queries.registry import extra_query, query
from currency_market_pulse_spark.sources.catalog import load_table
from currency_market_pulse_spark.functions.vectors import ORACLE_EMB_CTE

def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle relation derived (NOT persisted — see
    plans/prepare.py ``_tokens``) from the shared token arrays."""
    return D.shingles_from_tokens(index(spark, sf_dir, "tokens"), n=3)


# shared oracle CTEs (DuckDB) — twins of functions/text.py primitives
_TOKS = r"toks AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents)"
_DTOK = "dtok AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks)"
_SH3 = ("sh3 AS MATERIALIZED (SELECT doc_id, unnest(list_distinct("
        "list_transform(range(1, greatest(len(t) - 2, 0) + 1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh FROM toks)")
# df-capped twin of the Spark side's DEFAULT_SHINGLE_DF_CAP skew guard
# (ADVICE r3 item 3: the Spark queries cap per-shingle document
# frequency but the oracles joined UNCAPPED shingles — exact only while
# the fixture's max df stays under the cap; at larger scale factors the
# oracle would diverge by construction).  Set sizes stay computed from
# the UNCAPPED sh3, exactly like the Spark side computes n_sh before
# the cap filter.  Parameterized so tests can prove the equality AT a
# binding cap (VERDICT r4 item 5), not only at fixtures where the cap
# is slack.


def sh3cap_cte(cap: int) -> str:
    return (f"sh3c AS MATERIALIZED (SELECT doc_id, sh FROM ("
            f"SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df "
            f"FROM sh3) WHERE df <= {cap})")


_SH3CAP = sh3cap_cte(D.DEFAULT_SHINGLE_DF_CAP)


@query(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text) (constant-width shuffle
    key), keep min doc_id.  sf0.1 has real duplicate texts."""
    return D.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_TOKS}, {_SH3}, {_SH3CAP},
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh3c a JOIN sh3c b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard >= 0.5 via shingle self-join.

    3-grams, not tokens: the shingle vocabulary is diverse enough that
    per-shingle document frequency stays bounded, so the candidate
    self-join stays near-linear instead of quadratic (token-level
    jaccard on a small vocabulary degenerates to all-pairs).

    Served from the shared persisted pair relation so the components
    queries reuse the join instead of recomputing it."""
    return index(spark, sf_dir, "jaccard_pairs")


def _minhash_band_ctes() -> str:
    """sig + bands CTE text (assumes toks/sh3 CTEs in scope) — the
    numeric min-hash twin (operators/dedup.py:minhash_hash_expr):
    lexicographic min of fixed-width hex == numeric min of its value.
    Shared by the candidate query and the verified-components
    pipeline oracle."""
    mins = ", ".join(
        f"min(CAST(('0x' || substr(md5('{i // D.MINHASH_SLICES}|' || sh), "
        f"{(i % D.MINHASH_SLICES) * 8 + 1}, 8)) AS BIGINT)) AS mh{i}"
        for i in range(D.MINHASH_K))
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS band_sig FROM sig".format(
            b=b, sig=" || '|' || ".join(
                f"CAST(mh{b * D.MINHASH_ROWS + r} AS VARCHAR)"
                for r in range(D.MINHASH_ROWS)))
        for b in range(D.MINHASH_BANDS))
    return f"sig AS MATERIALIZED (SELECT doc_id, {mins} FROM sh3 GROUP BY doc_id),\nbands AS MATERIALIZED ({bands})"


def _minhash_oracle() -> str:
    return f"""
WITH {_TOKS}, {_SH3},
{_minhash_band_ctes()}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: 12 seeded min-md5 hashes over 3-gram
    shingles, 4 bands x 3 rows, pairs agreeing on any full band.
    Shingles come from the shared persisted token relation (one
    tokenize pass across the whole dedup family); the band relation is
    itself persisted so the candidate self-join's two sides read it
    instead of re-running the signature aggregation (``minhash_bands``
    in plans/prepare.py), and the resulting PAIR relation is persisted
    for the pipeline and recall-gate consumers (``minhash_pairs``)."""
    return index(spark, sf_dir, "minhash_pairs")


def _simhash60_oracle() -> str:
    """60-bit banded hamming-k twin: same vote math as the 16-bit
    oracle at SIMHASH64_BITS, then the SAME pigeonhole banding the
    Spark side uses — banding is recall-complete for hamming <= k, so
    mirroring it keeps the oracle exact while staying feasible at
    large SF (a brute-force oracle is quadratic; the pigeonhole
    equality itself is proven brute-force in tests/test_dedup.py at
    fixture scale).

    The band geometry is CORPUS-ADAPTIVE (VERDICT r8 directive 5,
    the coarse_k scalar-subquery precedent): n_bands =
    min(4, max(1, bits // (ceil(log2(n)) + margin))) computed from
    count(sims) inside the query, exactly
    operators/dedup.py:adaptive_simhash_bands — band width tracks
    log2(n) so the per-band candidate mass n^2/2^width stays
    <= n/2^margin at any corpus size, and the search radius
    k = n_bands-1 shrinks accordingly (4x15-bit bands / k=3 at
    fixture scale, 3x20 / k=2 at 50k docs, 1x60 / k=0 at 10^9)."""
    bits = D.SIMHASH64_BITS
    max_bands = 4                       # max_k + 1
    margin = D.SIMHASH_BAND_MARGIN
    return f"""
WITH {_TOKS}, {_DTOK},
hashed AS (SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM dtok),
votes AS (
  SELECT doc_id, bit,
         CAST(sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM hashed, (SELECT unnest(range(0, {bits})) AS bit) bits
  GROUP BY doc_id, bit),
sims AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id),
geom AS MATERIALIZED (
  SELECT n_bands, {bits} // n_bands AS width FROM (
    SELECT least({max_bands}, greatest(1,
           {bits} // (CAST(ceil(log2(greatest(2, n))) AS BIGINT)
                      + {margin}))) AS n_bands
    FROM (SELECT count(*) AS n FROM sims))),
bands AS (
  SELECT doc_id, simhash, band,
         (simhash >> CAST(band * width AS INTEGER))
           & ((CAST(1 AS BIGINT) << width) - 1) AS band_val
  FROM sims, (SELECT unnest(range(0, {max_bands})) AS band) bl, geom
  WHERE band < n_bands)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash))
      <= (SELECT n_bands - 1 FROM geom)
"""


@query("dedup_simhash", oracle=_simhash60_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale SimHash near-dup: 60-bit signatures, banded
    hamming<=3 pair search (operators/dedup.py:simhash_hamming_pairs).
    REGISTERED slot since r8 (VERDICT r7 directive 1): the 16-bit
    identical-signature bucket join it replaces carries an n^2/2^16
    pair term that the repo measured saturating at sf1 (SCALE.md
    round 4: 4.16M hamming-0 pairs from 50k docs) — quadratic blowup
    on hot buckets at 10^9-doc scale.  The wide signature keeps
    hamming-0 collisions rare and the pigeonhole banding finds ALL
    pairs within radius k without an all-pairs join (recall-complete,
    proven vs brute force in tests/test_dedup.py).  The saturating
    16-bit variant survives as library-tier
    ``dedup_simhash_bucket16`` for the saturation regression test.

    Band geometry is CORPUS-ADAPTIVE since r9 (VERDICT r8 directive
    5): ``adaptive_simhash_bands`` widens bands (and shrinks the
    radius) with log2(n) so per-band candidate mass stays
    <= n/2^margin — linear-class at 10^9 docs, where the fixed 15-bit
    bands' n^2/2^15 collision term would go quadratic.  The count
    driving the rule is computed ONCE at signature-build time
    (``simhash60_n``, part of ``prepare_indexes`` — VERDICT r9
    item 5), so the search path here triggers no extra action; the
    oracle computes the identical rule from count(sims) in SQL."""
    sigs = index(spark, sf_dir, "simhash60_sigs")
    n_docs = index(spark, sf_dir, "simhash60_n")
    n_bands = D.adaptive_simhash_bands(n_docs)
    return D.simhash_hamming_pairs(sigs, k=n_bands - 1,
                                   bits=D.SIMHASH64_BITS)


@extra_query(
    "dedup_simhash_bucket16",
    oracle=f"""
WITH {_TOKS}, {_DTOK},
hashed AS (SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM dtok),
votes AS (
  SELECT doc_id, bit,
         CAST(sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM hashed, (SELECT unnest(range(0, {D.SIMHASH_BITS})) AS bit) bits
  GROUP BY doc_id, bit),
sims AS (
  -- DuckDB sum() over integers returns HUGEINT (int128); the driver
  -- hashes that differently from Spark's int64 — cast back to BIGINT.
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS simhash
FROM sims a JOIN sims b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
""",
)
def dedup_simhash_bucket16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash identical-16-bit-signature buckets — the pre-r8
    registered variant, demoted (VERDICT r7 directive 1): its
    hamming-0 bucket join saturates birthday-style once the corpus
    outgrows 2^16 signatures.  Kept library-tier as the measured
    counter-example and for small-corpus use (sketch cost O(1)/doc
    where n << 2^bits)."""
    sigs = index(spark, sf_dir, "simhash16_sigs")
    return D.pairs_from_simhash(sigs)


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE
{_TOKS}, {_SH3}, {_SH3CAP},
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh3c a JOIN sh3c b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) >= 0.5),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r)
SELECT node AS doc_id, min(r) AS component_id
FROM reach GROUP BY node ORDER BY doc_id
"""


@query("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the 3-gram-jaccard
    pair graph via iterative min-label propagation
    (operators/components.py; star contraction takes over if
    propagation has not converged).  The oracle computes the same transitive
    closure with a recursive CTE — differential proof that the
    distributed iteration converges to the exact components."""
    pairs = index(spark, sf_dir, "jaccard_pairs")
    from currency_market_pulse_spark.operators.components import (
        connected_components,
    )
    # r17: terminal ORDER BY removed (presentation only; the oracle's
    # ORDER BY is harmless — the gate sorts rows before comparing);
    # pairs_canonical: the shared pair relation is a groupBy(id_a,
    # id_b) output with id_a < id_b, so the operator's dedup exchange
    # is redundant (see connected_components).
    return (connected_components(pairs, pairs_canonical=True)
            .select(F.col("node").alias("doc_id"),
                    F.col("comp").alias("component_id")))


_LSH_COMPONENTS_ORACLE = f"""
WITH RECURSIVE
{_TOKS}, {_SH3},
{_minhash_band_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS nc
  FROM cand c
  JOIN sh3 a ON a.doc_id = c.id_a
  JOIN sh3 b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) >= 0.5),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r)
SELECT node AS doc_id, min(r) AS component_id
FROM reach GROUP BY node ORDER BY doc_id
"""


@query("dedup_lsh_components", oracle=_LSH_COMPONENTS_ORACLE)
def dedup_lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dedup pipeline in one query: MinHash-LSH
    candidate generation -> exact jaccard verification restricted to
    candidates (operators/dedup.py:jaccard_verify_candidates — the
    corpus never all-pairs joins; verify work is bounded by the
    candidate set) -> connected components over the verified pairs.
    This is the shape that runs at 100 TB — dedup_components' full
    shingle self-join is the exact-recall twin for comparison; LSH's
    false-negative trade (band collision probability 1-(1-j^3)^4) is
    the cost, and the oracle replays the identical three stages so
    the trade is itself differentially proven."""
    from currency_market_pulse_spark.operators.components import (
        connected_components,
    )

    cand = index(spark, sf_dir, "minhash_pairs")
    # r18 (VERDICT r17 item 4): connected_components now symmetrizes
    # via a single explode (components.py), so the verify subtree is
    # referenced — and executed — exactly once; no materialization of
    # the verified pairs is needed.
    verified = D.jaccard_verify_candidates(
        _shared_shingles(spark, sf_dir), cand, threshold=0.5)
    # r17: terminal ORDER BY removed (presentation only);
    # pairs_canonical: jaccard_verify_candidates emits one row per
    # candidate (id_a, id_b) group with id_a < id_b inherited from the
    # band pairs — the dedup exchange is redundant.
    return (connected_components(verified, pairs_canonical=True)
            .select(F.col("node").alias("doc_id"),
                    F.col("comp").alias("component_id")))


@extra_query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH {ORACLE_EMB_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 6) AS cos_sim
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding, b.embedding) /
            (sqrt(list_dot_product(a.embedding, a.embedding)) *
             sqrt(list_dot_product(b.embedding, b.embedding))), 6) >= 0.4
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.4), brute pairwise
    baseline — EXACT-recall oracle for the cell-bounded registered
    slot (queries/ivf.py dedup_embedding_cells).  Measured quadratic
    (SCALE.md sf10: 21x for 10x data), so it lives in the library
    tier, exactly as sim_topk_bruteforce backs the ANN ladder."""
    return D.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def _centered_cosine_oracle(dim: int = 64, threshold: float = 0.4) -> str:
    from currency_market_pulse_spark.functions.vectors import (
        oracle_cosine_sql,
    )

    cos = oracle_cosine_sql("a.c", "b.c")
    return f"""
WITH {ORACLE_EMB_CTE},
fx AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(x * 1000000) AS BIGINT)) AS v
       FROM emb WHERE len(embedding) = {dim}),
st AS (SELECT i, CAST(sum(v[i]) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
       FROM fx, (SELECT unnest(range(1, {dim + 1})) AS i) ii
       GROUP BY i),
mv AS (SELECT list(m ORDER BY i) AS mvec
       FROM (SELECT i, s / n / 1000000.0 AS m FROM st) t),
cen AS MATERIALIZED (
  SELECT e.vec_id,
         list_transform(range(1, {dim + 1}),
                        i -> e.embedding[i] - mv.mvec[i]) AS c
  FROM emb e CROSS JOIN mv WHERE len(e.embedding) = {dim})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({cos}, 6) AS cos_sim
FROM cen a JOIN cen b ON a.vec_id < b.vec_id
WHERE round({cos}, 6) >= {threshold}
"""


@extra_query("dedup_centered_cosine", oracle=_centered_cosine_oracle())
def dedup_centered_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-centered embedding-cosine near-dup (>= 0.4): the corpus
    mean vector (operators/embstats.py mean_vector — exact fixed-point
    sums, 1-row broadcast) is subtracted before scoring, removing the
    shared common component that inflates every raw cosine on real
    encoder embeddings.  Same distributed block self-join kernel as
    dedup_embedding_cosine; the full-whitening upgrade uses
    embedding_covariance's matrix in place of the diagonal."""
    from currency_market_pulse_spark.operators.embstats import (
        centered_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(
        centered_embeddings(emb, dim=64), threshold=0.4)


@extra_query(
    "dedup_containment",
    oracle=f"""
WITH {_TOKS}, {_SH3}, {_SH3CAP},
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh3c a JOIN sh3c b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(nc AS DOUBLE) / sa.n, 6) AS cont_a_in_b,
       round(CAST(nc AS DOUBLE) / sb.n, 6) AS cont_b_in_a
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest(round(CAST(nc AS DOUBLE) / sa.n, 6),
               round(CAST(nc AS DOUBLE) / sb.n, 6)) >= 0.5
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: n-gram containment |A∩B|/|A| (and the
    reverse) at threshold 0.5 — catches short docs embedded in longer
    ones (quotes, boilerplate), which symmetric jaccard structurally
    misses.  Same df-capped shingle self-join as dedup_ngram_jaccard
    (cap mirrored in the oracle's sh3c CTE), fed from the shared
    persisted token relation."""
    return D.containment_pairs(
        None, n=3, threshold=0.5,
        shingles_df=_shared_shingles(spark, sf_dir))


_SURVIVORS_ORACLE = f"""
WITH RECURSIVE
{_TOKS}, {_SH3}, {_SH3CAP},
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh3c a JOIN sh3c b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) >= 0.5),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
comp AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node),
dropped AS (SELECT node AS doc_id FROM comp WHERE component_id <> node)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN x.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN x.doc_id IS NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM documents d LEFT JOIN dropped x ON x.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source
"""


@extra_query("dedup_survivors", oracle=_SURVIVORS_ORACLE)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT artifact: per source, how much of the corpus
    survives keep-one-per-component near-dedup (component minimum
    kept, the rest dropped).  This is the relation a training run
    actually consumes — pairs and components are diagnostics; the
    survivor card is the deliverable.  Caveat shared with the whole
    shingle family: docs shorter than the shingle width never pair, so
    exact duplicates of sub-3-token docs survive (the exact-dedup
    operator owns those).

    Shape: drop list = components where node != min-label (near-dup
    density-sized), LEFT-joined to the corpus.  The drop list on a
    real web corpus is a large FRACTION of the corpus (tens of
    percent), NOT bounded-small — so no forced broadcast hint here:
    AQE's size-based planning broadcasts it when it measures small and
    falls back to a shuffle join when it doesn't, instead of a forced
    hint OOM-ing the driver at 100 TB.  (Contrast the verify-prune id
    set in jaccard_verify_candidates, which is candidate-bounded and
    safely hinted.)  One source aggregate ends the plan."""
    from currency_market_pulse_spark.operators.components import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(index(spark, sf_dir, "jaccard_pairs"))
    dropped = (comp.filter(F.col("node") != F.col("comp"))
               .select(F.col("node").alias("doc_id"),
                       F.lit(True).alias("_drop")))
    return (docs.join(dropped, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("_drop"), 1).otherwise(0))
                 .alias("n_dropped"),
                 F.sum(F.when(F.col("_drop").isNull(), 1).otherwise(0))
                 .alias("n_kept"),
                 F.sum(F.when(F.col("_drop").isNull(), F.col("n_chars"))
                       .otherwise(0)).alias("kept_chars"))
            .orderBy("source"))


_SURVIVORS_LONGEST_ORACLE = _SURVIVORS_ORACLE.replace(
    "dropped AS (SELECT node AS doc_id FROM comp WHERE component_id <> node)",
    """withq AS (
  SELECT c.node, c.component_id, d.n_chars, d.doc_id
  FROM comp c JOIN documents d ON d.doc_id = c.node),
keeper AS (
  SELECT component_id, doc_id AS keep_id FROM (
    SELECT component_id, doc_id,
           row_number() OVER (PARTITION BY component_id
                ORDER BY n_chars DESC, doc_id) AS rn
    FROM withq) t WHERE rn = 1),
dropped AS (
  SELECT w.node AS doc_id
  FROM withq w JOIN keeper k ON k.component_id = w.component_id
  WHERE w.doc_id <> k.keep_id)""")


@extra_query("dedup_survivors_longest", oracle=_SURVIVORS_LONGEST_ORACLE)
def dedup_survivors_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor card with QUALITY-AWARE keeper selection: per near-dup
    component, keep the LONGEST document (ties to the lowest id)
    instead of the arbitrary min-id — the RefinedWeb-style choice that
    retains the most complete copy of syndicated/cropped variants.
    min-id keeps whichever crawl arrived first; argmax-length keeps
    the best artifact.  Same component relation, one extra n_chars
    window per component (component-sized, tiny), same per-source
    card."""
    from currency_market_pulse_spark.operators.components import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(index(spark, sf_dir, "jaccard_pairs"))
    withq = comp.join(docs.select("doc_id", "n_chars"),
                      comp["node"] == F.col("doc_id")).drop("doc_id")
    w = Window.partitionBy("comp").orderBy(F.desc("n_chars"), "node")
    dropped = (withq.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") > 1)
               .select(F.col("node").alias("doc_id"),
                       F.lit(True).alias("_drop")))
    return (docs.join(dropped, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("_drop"), 1).otherwise(0))
                 .alias("n_dropped"),
                 F.sum(F.when(F.col("_drop").isNull(), 1).otherwise(0))
                 .alias("n_kept"),
                 F.sum(F.when(F.col("_drop").isNull(), F.col("n_chars"))
                       .otherwise(0)).alias("kept_chars"))
            .orderBy("source"))


def _split_leakage_oracle() -> str:
    from currency_market_pulse_spark.queries.sampling import (
        _frac_sql, _split_case_sql,
    )

    case = _split_case_sql()
    return f"""
WITH {_TOKS}, {_SH3}, {_SH3CAP},
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh3c a JOIN sh3c b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) >= 0.5),
sp AS (SELECT doc_id, split FROM (
  SELECT doc_id, {_frac_sql('split', 'doc_id')} AS frac FROM documents) f,
  LATERAL (SELECT {case} AS split)),
lab AS (SELECT least(a.split, b.split) AS split_lo,
               greatest(a.split, b.split) AS split_hi
        FROM pairs p JOIN sp a ON a.doc_id = p.id_a
                     JOIN sp b ON b.doc_id = p.id_b)
SELECT split_lo, split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       (split_lo <> split_hi) AS is_leak
FROM lab GROUP BY split_lo, split_hi ORDER BY split_lo, split_hi
"""


@extra_query("documents_split_leakage", oracle=_split_leakage_oracle())
def documents_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination card: near-dup pairs (jaccard >= 0.5)
    whose endpoints land in DIFFERENT train/val/test splits — the
    leakage a hash split cannot prevent (hash splits are stable per
    document; near-DUPLICATES of a test doc still land in train and
    leak the eval).  Off-diagonal rows are the leaks; the fix is
    dedup-BEFORE-split or component-level split assignment.  Reuses
    the family's shared pair relation and the zero-shuffle split
    projection — the only new work is one broadcast-scale join and a
    9-cell aggregate."""
    from currency_market_pulse_spark.operators.sampling import hash_split
    from currency_market_pulse_spark.queries.sampling import SPLIT_WEIGHTS

    docs = load_table(spark, sf_dir, "documents")
    sp = hash_split(docs, "doc_id", SPLIT_WEIGHTS).select("doc_id", "split")
    pairs = index(spark, sf_dir, "jaccard_pairs")
    a = sp.select(F.col("doc_id").alias("id_a"),
                  F.col("split").alias("_sa"))
    b = sp.select(F.col("doc_id").alias("id_b"),
                  F.col("split").alias("_sb"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select(F.least("_sa", "_sb").alias("split_lo"),
                    F.greatest("_sa", "_sb").alias("split_hi"))
            .groupBy("split_lo", "split_hi")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
            .orderBy("split_lo", "split_hi"))


#: Incremental-dedup split: docs whose hash fraction under this seed
#: falls below the threshold play the "newly ingested batch"; the rest
#: are the standing corpus the batch is checked against.
INCR_SEED = "incr"
INCR_NEW_FRAC = 0.2


def _incremental_oracle() -> str:
    from currency_market_pulse_spark.queries.sampling import _frac_sql

    frac = _frac_sql(INCR_SEED, "doc_id")
    return f"""
WITH {_TOKS}, {_SH3},
{_minhash_band_ctes()},
flag AS (SELECT doc_id, ({frac} < {INCR_NEW_FRAC!r}) AS is_new
         FROM documents),
nb AS (SELECT b.* FROM bands b JOIN flag f USING (doc_id) WHERE f.is_new),
cb AS (SELECT b.* FROM bands b JOIN flag f USING (doc_id)
       WHERE NOT f.is_new),
cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         FROM nb n JOIN cb c
           ON c.band = n.band AND c.band_sig = n.band_sig),
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT ca.new_id, ca.corpus_id, count(*) AS nc
  FROM cand ca JOIN sh3 x ON x.doc_id = ca.new_id
               JOIN sh3 y ON y.doc_id = ca.corpus_id AND y.sh = x.sh
  GROUP BY 1, 2),
ver AS (
  SELECT new_id, corpus_id,
         round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = new_id
  JOIN sizes sb ON sb.doc_id = corpus_id)
SELECT new_id, corpus_id AS dup_of, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY new_id
            ORDER BY jaccard DESC, corpus_id) AS rn
  FROM ver WHERE jaccard >= 0.5) t
WHERE rn = 1 ORDER BY new_id
"""


@extra_query("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) near-dedup: a newly-ingested batch
    (deterministic 20% hash split of documents) probed against the
    standing corpus's MinHash band index, exact-jaccard verified, best
    corpus match per flagged doc.  This is the shape 100 TB ingest
    actually runs — the self-join dedups are the bootstrap pass; every
    later increment only pays batch x index, and the band index is the
    persisted artifact the corpus maintains (operators/dedup.py
    cross_corpus_candidates).  Bands and shingles both derive from the
    family's shared one-pass token relation."""
    from currency_market_pulse_spark.operators.sampling import hash_fraction

    bands = index(spark, sf_dir, "minhash_bands")
    is_new = hash_fraction(F.col("doc_id"), INCR_SEED) < INCR_NEW_FRAC
    cand = D.cross_corpus_candidates(bands.filter(is_new),
                                     bands.filter(~is_new))
    sh = _shared_shingles(spark, sf_dir)
    ver = D.cross_jaccard_verify(
        sh.filter(is_new), sh.filter(~is_new), cand, threshold=0.5)
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), "corpus_id")
    return (ver.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("new_id", F.col("corpus_id").alias("dup_of"), "jaccard")
            .orderBy("new_id"))


#: chunk size for the passage-level dedup query (tokens per chunk).
CHUNK_TOKENS = 16

_CHUNK_DEDUP_ORACLE = rf"""
WITH toksnn AS MATERIALIZED (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
  FROM documents WHERE text IS NOT NULL),
chunks AS MATERIALIZED (
  SELECT doc_id, idx,
         array_to_string(t[idx * {CHUNK_TOKENS} + 1 :
                           idx * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                         ' ') AS chunk
  FROM (SELECT doc_id, t,
               unnest(range(0, CAST(ceil(len(t) / {CHUNK_TOKENS}.0)
                                    AS BIGINT))) AS idx
        FROM toksnn WHERE len(t) > 0) s),
occ AS MATERIALIZED (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, idx) = 1 AS keep
  FROM chunks)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round((count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))
             / CAST(count(*) AS DOUBLE), 6) AS drop_frac,
       md5(coalesce(string_agg(chunk, ' ' ORDER BY idx)
                    FILTER (WHERE keep), '')) AS scrubbed_md5
FROM occ GROUP BY doc_id
"""


@extra_query("text_chunk_dedup", oracle=_CHUNK_DEDUP_ORACLE)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (operators/dedup.py chunk_dedup_docs):
    docs split into CHUNK_TOKENS-token chunks, only the globally
    first occurrence of each distinct chunk kept, per-doc drop stats +
    md5 of the scrubbed text.  The intra-corpus repeated-passage
    removal stage (boilerplate, quoted blocks) that document-level
    dedup structurally misses; the sf0.1 fixture's exact-duplicate
    docs surface here as n_kept = 0 rows.  Oracle replays chunking,
    first-owner choice and reassembly bit-for-bit."""
    return D.chunk_dedup_docs(load_table(spark, sf_dir, "documents"),
                              chunk_tokens=CHUNK_TOKENS)


_LSH_RECALL_ORACLE = f"""
WITH {_TOKS}, {_SH3}, {_SH3CAP},
{_minhash_band_ctes()},
sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh3c a JOIN sh3c b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
exact AS MATERIALIZED (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(CAST(nc AS DOUBLE) / (sa.n + sb.n - nc), 6) >= 0.5),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM exact JOIN cand USING (id_a, id_b))
            AS BIGINT) AS n_found,
       round((SELECT count(*) FROM exact JOIN cand USING (id_a, id_b))
             / CAST(greatest((SELECT count(*) FROM exact), 1) AS DOUBLE),
             6) AS recall
"""


@extra_query("dedup_lsh_recall", oracle=_LSH_RECALL_ORACLE)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate recall as a regression-gated number (the dedup
    twin of sim_ann_recall): of the exact jaccard>=0.5 pairs, how many
    appear in the MinHash band candidate set.  The band-collision
    formula 1-(1-j^3)^4 predicts the trade; this query MEASURES it
    every round, so a band/row re-tune that silently tanks recall
    fails the gate instead of shipping.  Both relations come from the
    family's shared token pass."""
    exact = index(spark, sf_dir, "jaccard_pairs").select("id_a", "id_b")
    cand = index(spark, sf_dir, "minhash_pairs")
    found = exact.join(cand, ["id_a", "id_b"], "left_semi")
    return (exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
            .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
            .select("n_exact", "n_candidates", "n_found",
                    F.round(F.col("n_found")
                            / F.greatest(F.col("n_exact"), F.lit(1)), 6)
                    .alias("recall")))


def _modpow_expr(base: int, mod: int, var: str = "t",
                 bits: int = 24) -> str:
    """SQL for base^var mod ``mod`` by binary expansion of ``var``
    (var < 2^bits): a chain of multiply-then-mod steps whose operands
    stay < mod^2 < 2^62, so plain BIGINT arithmetic is exact.

    PRECONDITION (ADVICE r9): only the low ``bits`` bits of ``var``
    are expanded — a larger exponent silently wraps to a WRONG power.
    Callers must reject inputs that can exceed the limit;
    ``_rolling_wins_cte`` raises in-SQL (lazy CASE + error()) for any
    document longer than 2^bits characters rather than emit wrong
    fingerprints."""
    e = "CAST(1 AS BIGINT)"
    for i in range(bits):
        p = pow(base, 1 << i, mod)
        e = (f"(({e}) * (CASE WHEN ({var} >> {i}) & 1 = 1 "
             f"THEN {p} ELSE 1 END)) % {mod}")
    return e


def _rolling_wins_cte(span: int = D.SPAN_CHARS,
                      modp: int = D.SPAN_MODP) -> str:
    """The shared ``wins`` relation of both ExactSubstr oracles — every
    selected window's packed double polynomial fingerprint — in O(1)
    work per character, mirroring the KERNEL's prefix-sum algebra
    instead of re-summing all ``span`` terms per position.

    fp(pos) = sum_j c[pos+j] * B^(span-1-j)  (mod M)
            = B^(pos+span-1) * sum_{u=pos}^{pos+span-1} c[u] * B^(-u)
    so with the raw (un-modded) prefix sums T(t) = sum_{u<=t} c[u] *
    (B^-u mod M), one windowed pass gives every fingerprint:
    fp(pos) = (B^(pos+span-1) mod M) * ((T(pos+span-1) - T(pos-1))
    mod M) mod M.  T is nondecreasing so the difference needs no sign
    fix; terms are HUGEINT (ord can reach 0x10FFFF, prefix over a
    long doc would overflow BIGINT).  M1, M2 are prime so B is
    invertible.  The previous per-position ``list_transform`` form
    recomputed span=40 HUGEINT terms per window through an
    interpreted lambda — measured 72 s per 1 % of sf1 (~2 h full),
    which made the sf1 differential gate infeasible; this form runs
    the same data in seconds and returns bit-identical fingerprints
    (same residues, same packing)."""
    m1, m2, b = D.ROLL_M1, D.ROLL_M2, D.ROLL_B
    binv1, binv2 = pow(b, -1, m1), pow(b, -1, m2)
    return f"""chars AS (
  SELECT doc_id, CAST(t AS BIGINT) AS t,
         ord(substr(text, CAST(t AS INT), 1)) AS c,
         length(text) AS len
  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS t
        FROM documents
        WHERE text IS NOT NULL AND length(text) >= {span}
          -- _modpow_expr expands 24 exponent bits: a doc longer than
          -- 2^24 chars would WRAP the position powers silently
          -- (ADVICE r9) — fail loudly instead (CASE is lazy, the
          -- error() fires only on an offending row).
          AND CASE WHEN length(text) >= {1 << 24}
                   THEN error('rolling oracle precondition: document '
                              || doc_id || ' exceeds 2^24 chars; '
                              || '_modpow_expr would wrap')
                   ELSE true END)),
pt AS MATERIALIZED (
  SELECT t,
         {_modpow_expr(b, m1)} AS pw1,
         {_modpow_expr(b, m2)} AS pw2,
         {_modpow_expr(binv1, m1)} AS q1,
         {_modpow_expr(binv2, m2)} AS q2
  FROM (SELECT DISTINCT t FROM chars)),
pre AS (
  SELECT ch.doc_id, ch.t, ch.len, pt.pw1, pt.pw2,
         sum(CAST(ch.c AS HUGEINT) * pt.q1) OVER v AS t1,
         sum(CAST(ch.c AS HUGEINT) * pt.q2) OVER v AS t2
  FROM chars ch JOIN pt USING (t)
  WINDOW v AS (PARTITION BY ch.doc_id ORDER BY ch.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
wins AS MATERIALIZED (
  -- the window functions must see EVERY position (a window's end
  -- chars are positions the outer filter drops), so lead/lag run in
  -- the inner relation and the span/selection filters apply outside
  SELECT doc_id, pos, fp, doc_id * 1000000000 + pos AS k
  FROM (
    SELECT doc_id, t AS pos, len,
           CAST((lead(pw1, {span - 1}) OVER v)
                * ((lead(t1, {span - 1}) OVER v
                    - coalesce(lag(t1, 1) OVER v,
                               CAST(0 AS HUGEINT))) % {m1})
                % {m1} AS BIGINT) * 2147483648
           + CAST((lead(pw2, {span - 1}) OVER v)
                  * ((lead(t2, {span - 1}) OVER v
                      - coalesce(lag(t2, 1) OVER v,
                                 CAST(0 AS HUGEINT))) % {m2})
                  % {m2} AS BIGINT) AS fp
    FROM pre
    WINDOW v AS (PARTITION BY doc_id ORDER BY t)) s
  WHERE pos + {span} - 1 <= len AND fp % {modp} = 0)"""


def _substr_rolling_oracle(span: int = D.SPAN_CHARS,
                           modp: int = D.SPAN_MODP) -> str:
    """Replay of substring_span_stats: every window's double
    polynomial fingerprint via the modular prefix-sum identity
    (_rolling_wins_cte — the kernel's own algebra), packed
    fingerprint, 0-mod-p selection, then the per-fingerprint owner
    stats and the per-doc aggregate."""
    return f"""
WITH {_rolling_wins_cte(span, modp)},
grp AS MATERIALIZED (
  SELECT fp, count(*) AS c, min(k) AS owner FROM wins GROUP BY fp)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_fingerprints,
       CAST(sum(CASE WHEN c >= 2 AND k <> owner THEN 1 ELSE 0 END)
            AS BIGINT) AS removable_fingerprints,
       round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_frac
FROM wins w JOIN grp USING (fp)
GROUP BY w.doc_id
"""


@query("text_substring_dedup", oracle=_substr_rolling_oracle())
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (operators/dedup.py
    substring_span_stats — Lee et al. 2021 ExactSubstr, distributed):
    every SPAN_CHARS-wide character window fingerprinted by the
    rolling polynomial hash, the content-selected 1/SPAN_MODP kept
    (shift-invariant, unlike stride sampling — see the operator
    docstring for the alignment bug that rules out strides), grouped
    corpus-wide.  Finer-grained than token-chunk dedup
    (text_chunk_dedup): windows cross chunk boundaries, so a duplicated
    run straddling two chunks — invisible to the chunk operator — still
    collides here.  Per doc: selected fingerprints, duplicated ones,
    removable (non-first) occurrences, duplicated fraction.  Linear in
    corpus size; no pairwise join.  The oracle recomputes every
    window's fingerprint as an exact HUGEINT power sum."""
    return D.substring_span_stats(load_table(spark, sf_dir, "documents"))


def _substr_removal_rolling_oracle(span: int = D.SPAN_CHARS,
                                   modp: int = D.SPAN_MODP) -> str:
    """Replay of substring_removal_plan: the shared _rolling_wins_cte
    fingerprints and owner stats, then the gaps-and-islands merge of
    the removable windows in SQL window functions."""
    return f"""
WITH {_rolling_wins_cte(span, modp)},
grp AS MATERIALIZED (
  SELECT fp, count(*) AS c, min(k) AS owner FROM wins GROUP BY fp),
rem AS (
  SELECT w.doc_id, w.pos, w.pos + {span} AS e
  FROM wins w JOIN grp USING (fp)
  WHERE c >= 2 AND k <> owner),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
              OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM rem),
isl2 AS (
  SELECT doc_id, pos, e,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
  FROM isl),
spans AS (
  SELECT doc_id, isle, count(*) AS nw, min(pos) AS s, max(e) AS e2
  FROM isl2 GROUP BY doc_id, isle)
SELECT sp.doc_id,
       CAST(sum(nw) AS BIGINT) AS n_removable_windows,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(e2 - s) AS BIGINT) AS removed_chars,
       CAST(any_value(length(d.text)) - sum(e2 - s) AS BIGINT)
         AS kept_chars,
       -- 6-decimal FLOOR via integer division: replays the kernel's
       -- tie-free DIV (round() halves split Spark/DuckDB, r10)
       (CAST(sum(e2 - s) AS BIGINT) * 1000000
          // CAST(any_value(length(d.text)) AS BIGINT)) / 1000000.0
         AS removed_frac
FROM spans sp JOIN documents d ON sp.doc_id = d.doc_id
GROUP BY sp.doc_id
"""


@query("text_substring_removal_rolling",
       oracle=_substr_removal_rolling_oracle())
def text_substring_removal_rolling(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The APPLY stage of ExactSubstr (operators/dedup.py
    substring_removal_plan — Lee et al. 2021 §3.1: drop the repeated
    SPAN, not the document): removable windows merged gaps-and-islands
    style into maximal per-doc [start, end) cut intervals; per doc the
    span count, removed/kept chars and removed fraction.  Completes the
    detect (text_substring_dedup) -> plan (this) -> splice chain.  The
    oracle replays every window as an exact HUGEINT power sum, then
    the island merge in SQL.

    The key keeps its ``_rolling`` suffix only because the correctness
    gate and the committed CORRECTNESS_r*.json records key on
    registered names; the md5 kernel it once stood beside is gone (it
    lost to the rolling hash at every scale above 500 docs), so there
    is one ExactSubstr kernel."""
    return D.substring_removal_plan(load_table(spark, sf_dir, "documents"))


_XSOURCE_ORACLE = rf"""
WITH toksnn AS MATERIALIZED (
  SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
  FROM documents WHERE text IS NOT NULL),
chunks AS MATERIALIZED (
  SELECT source,
         md5(array_to_string(t[idx * {CHUNK_TOKENS} + 1 :
                               idx * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                             ' ')) AS h
  FROM (SELECT source, t,
               unnest(range(0, CAST(ceil(len(t) / {CHUNK_TOKENS}.0)
                                    AS BIGINT))) AS idx
        FROM toksnn WHERE len(t) > 0) s),
ds AS MATERIALIZED (SELECT DISTINCT h, source FROM chunks),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_chunks
FROM pairs GROUP BY src_a, src_b
"""


@extra_query("dedup_cross_source", oracle=_XSOURCE_ORACLE)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source passage-contamination matrix: for every source
    pair, how many distinct CHUNK_TOKENS-token passages appear verbatim
    in both — the provenance card (mirror sites, syndication, shared
    boilerplate) that decides which SOURCE to drop or down-weight,
    rather than which documents.  Whole-document cross-source overlap
    is empty on this corpus (exact dup groups stay within one source),
    which is exactly why real pipelines run this at passage granularity.

    Shape: the chunk relation (one explode), distinct (chunk-hash,
    source) projection, self-join on the hash.  Per-hash fanout is
    bounded by the SOURCE count (handfuls, not data-sized), so unlike
    a document self-join this stays linear — the df-bound argument of
    the capped shingle join with the cap structural, not configured."""
    docs = load_table(spark, sf_dir, "documents")
    occ = D.chunk_occurrences(docs, chunk_tokens=CHUNK_TOKENS)
    ds = (occ.join(docs.select("doc_id", "source"), "doc_id")
          .select(F.md5("chunk").alias("_h"), "source").distinct())
    a = ds.select(F.col("_h"), F.col("source").alias("src_a"))
    b = ds.select(F.col("_h"), F.col("source").alias("src_b"))
    return (a.join(b, "_h")
            .filter(F.col("src_a") < F.col("src_b"))
            .groupBy("src_a", "src_b")
            .agg(F.count(F.lit(1)).alias("n_shared_chunks")))
