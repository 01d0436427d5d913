"""Dedup operator semantics on hand-built micro-fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from currency_market_pulse_spark.operators import dedup as D


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])


def test_exact_dedup_groups(spark):
    docs = _docs(spark, ["a b c", "a b c", "x y z", "a b c"])
    rows = {r.keeper_id: r.n_copies
            for r in D.exact_dedup_groups(docs).collect()}
    assert rows == {0: 3, 2: 1}


def test_dedup_keep_first(spark):
    docs = _docs(spark, ["a b c", "a b c", "x y z"])
    kept = sorted(r.doc_id for r in
                  D.dedup_keep_first(docs, ["text"], "doc_id").collect())
    assert kept == [0, 2]


def test_jaccard_identical_and_disjoint(spark):
    docs = _docs(spark, [
        "one two three four five",
        "one two three four five",   # identical -> jaccard 1.0
        "alpha beta gamma delta x",  # disjoint
    ])
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert pairs == {(0, 1): 1.0}


def test_short_docs_do_not_crash_shingle_ops(spark):
    """Docs with fewer than n tokens must yield empty shingle sets, not
    an element_at(_, 0) crash (Spark sequence(1, 0) descends to [1, 0];
    ADVICE r1 high).  Covers jaccard, minhash-LSH and fingerprints."""
    from currency_market_pulse_spark.functions.text import shingles, tokens
    docs = _docs(spark, ["", "one", "one two",
                         "one two three four five",
                         "one two three four five"])
    sh = docs.select(F.size(shingles(tokens(F.col("text")), 3)).alias("n"))
    assert [r.n for r in sh.orderBy(F.col("n")).collect()] == [0, 0, 0, 3, 3]
    pairs = {(r.id_a, r.id_b)
             for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert pairs == {(3, 4)}
    cand = {(r.id_a, r.id_b)
            for r in D.minhash_lsh_candidates(docs).collect()}
    assert (3, 4) in cand and all(p == (3, 4) for p in cand)


def test_shingles_null_text_stays_null(spark):
    from currency_market_pulse_spark.functions.text import shingles, tokens
    df = spark.createDataFrame([Row(doc_id=0, text=None)],
                               schema="doc_id long, text string")
    [r] = df.select(shingles(tokens(F.col("text")), 3).alias("sh")).collect()
    assert r.sh is None


def test_minhash_lsh_catches_identical_docs(spark):
    docs = _docs(spark, [
        "one two three four five six seven",
        "one two three four five six seven",
        "totally different words here now ok yes",
    ])
    cand = {(r.id_a, r.id_b)
            for r in D.minhash_lsh_candidates(docs).collect()}
    assert (0, 1) in cand
    assert (0, 2) not in cand and (1, 2) not in cand


@pytest.mark.slow
def test_shingle_df_cap_drops_hot_shingles(spark):
    """Document-frequency cap (VERDICT r1 item 9): shingles shared by
    more than max_shingle_df docs are excluded from candidate
    generation, so one boilerplate shingle can never produce a df^2
    join blowup.  Sizes stay pre-cap, so capped jaccard only ever
    understates."""
    docs = _docs(spark, ["a b c p q", "a b c r s"])  # share ONLY 'a b c'
    uncapped = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_shingle_df=None).collect()}
    assert uncapped == {(0, 1): 0.2}  # 1 common of 3+3-1
    capped = D.ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_shingle_df=1).collect()
    assert capped == []  # the hot shingle was the only link
    # default cap is far above any fixture df: identical result
    default = {(r.id_a, r.id_b): r.jaccard
               for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()}
    assert default == uncapped


def test_simhash_same_tokenset_same_signature(spark):
    # SimHash is over the distinct-token SET: word order must not matter
    docs = _docs(spark, ["a b c d e", "e d c b a", "p q r s t"])
    sigs = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


def test_embedding_near_dup_threshold(spark):
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.01]),   # ~parallel
        Row(vec_id=2, embedding=[0.0, 1.0]),    # orthogonal
    ])
    emb = emb.withColumn("embedding",
                         F.col("embedding").cast("array<float>"))
    pairs = {(r.id_a, r.id_b)
             for r in D.embedding_near_dup_pairs(emb, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_repetition_metrics_planted(spark):
    """Degenerate repetition is caught; diverse text scores low; short
    docs get NULL bigram metrics."""
    from pyspark.sql import Row
    from currency_market_pulse_spark.operators.textops import (
        repetition_metrics,
    )
    docs = spark.createDataFrame([
        Row(doc_id=1, text="spam spam spam spam spam spam spam spam"),
        Row(doc_id=2, text="all these eight tokens are fully distinct here"),
        Row(doc_id=3, text="one"),
    ])
    m = {r.doc_id: r for r in repetition_metrics(docs).collect()}
    assert m[1].top_token_fraction == 1.0
    assert m[1].top_bigram_fraction == 1.0
    assert m[1].dup_bigram_fraction == round(1 - 1 / 7, 6)
    assert m[2].top_token_fraction == 0.125
    assert m[2].dup_bigram_fraction == 0.0
    assert m[3].n_tokens == 1
    assert m[3].top_bigram_fraction is None  # no bigrams in a 1-token doc


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully embedded in a long one: jaccard is tiny but
    containment(A in B) is 1.0 — the asymmetric detector's reason to
    exist."""
    from pyspark.sql import Row
    from currency_market_pulse_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=short),
        Row(doc_id=2, text=f"{filler} {short}"),
    ])
    cont = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a)
            for r in containment_pairs(docs, n=3, threshold=0.8).collect()}
    assert cont[(1, 2)][0] == 1.0          # short doc fully contained
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert jac == []                       # symmetric metric blind to it


def test_pii_redaction_planted(spark):
    """Planted PII is counted and replaced; clean text untouched; the
    Spark output matches a python-re replay of the same patterns."""
    import re

    from pyspark.sql import Row
    from currency_market_pulse_spark.operators.textops import (
        PII_PATTERNS, redact_pii,
    )
    dirty = ("contact bob.smith+x@example.co.uk or 10.0.255.7 "
             "and call 555-123-4567 twice 555-123-4567")
    clean = "no personal identifiers anywhere in this sentence"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=dirty), Row(doc_id=2, text=clean)])
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 1, 2)
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 0)
    assert got[2].redacted_text == clean

    expect = dirty
    for kind, pat in PII_PATTERNS.items():
        expect = re.sub(pat, f"<{kind.upper()}>", expect)
    assert got[1].redacted_text == expect
    assert "<EMAIL>" in expect and "<IPV4>" in expect and "<PHONE>" in expect


def test_simhash_hamming_banding_is_recall_complete(spark):
    """Pigeonhole proof by brute force: the banded hamming<=k pair
    search (k+1 bands of 15 bits) must return EXACTLY the pairs a full
    quadratic scan of the 60-bit signatures finds — banding is a
    candidate-complete decomposition for the hamming radius, not an
    approximation."""
    from currency_market_pulse_spark.operators.dedup import (
        SIMHASH64_BITS, simhash, simhash_hamming_pairs,
    )
    from currency_market_pulse_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sigs = simhash(docs, bits=SIMHASH64_BITS)
    k = 3
    banded = {(r.id_a, r.id_b): r.hamming
              for r in simhash_hamming_pairs(sigs, k=k).collect()}
    raw = sorted((r.doc_id, r.simhash) for r in sigs.collect())
    brute = {}
    for i in range(len(raw)):
        for j in range(i + 1, len(raw)):
            h = bin(raw[i][1] ^ raw[j][1]).count("1")
            if h <= k:
                brute[(raw[i][0], raw[j][0])] = h
    assert banded == brute
    assert brute, "fixture produced no hamming<=k pairs; test is vacuous"


def test_adaptive_simhash_bands_rule():
    """Corpus-adaptive band count (VERDICT r8 directive 5): band width
    bits/n_bands must stay >= ceil(log2(n)) + margin so per-band
    collision mass n^2/2^width <= n/2^margin, and the count is
    monotonically non-increasing in n (wider bands / smaller radius
    as the corpus grows)."""
    import math

    from currency_market_pulse_spark.operators.dedup import (
        SIMHASH64_BITS, SIMHASH_BAND_MARGIN, adaptive_simhash_bands,
    )

    # fixture scales: identical to the pre-r9 fixed geometry
    assert adaptive_simhash_bands(500) == 4          # sf0.01, k=3
    assert adaptive_simhash_bands(5_000) == 4        # sf0.1
    assert adaptive_simhash_bands(8_192) == 4        # boundary: 13+2=15
    # the regimes the rule exists for
    assert adaptive_simhash_bands(50_000) == 3       # sf1, k=2, 20-bit
    assert adaptive_simhash_bands(500_000) == 2      # sf10, k=1, 30-bit
    assert adaptive_simhash_bands(10**9) == 1        # k=0, exact join

    prev = None
    for n in [2, 10, 10**3, 10**4, 10**5, 10**6, 10**8, 10**10, 10**12]:
        nb = adaptive_simhash_bands(n)
        w = SIMHASH64_BITS // nb
        assert SIMHASH64_BITS % nb == 0              # bands partition bits
        if nb < 4:   # uncapped regime: the width bound must hold
            assert w >= math.ceil(math.log2(n)) + SIMHASH_BAND_MARGIN
        assert prev is None or nb <= prev
        prev = nb


def test_hamming_pairs_rejects_uneven_bands(spark):
    """bits not divisible by k+1 would leave top bits outside every
    band — silently incomplete recall; must refuse instead."""
    import pytest
    from pyspark.sql import Row

    from currency_market_pulse_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    sigs = spark.createDataFrame([Row(doc_id=1, simhash=7)])
    with pytest.raises(ValueError, match="not divisible"):
        simhash_hamming_pairs(sigs, k=6, bits=60)  # 60 % 7 != 0


def test_cross_corpus_incremental_dedup(spark):
    """A 'new batch' doc that near-duplicates a corpus doc is caught by
    band probe + exact verify; batch-internal duplicates are NOT
    reported (incremental dedup only checks batch-vs-corpus)."""
    corpus = _docs(spark, [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely unrelated corpus text about currency market pulses",
    ])
    new = spark.createDataFrame([
        # near-copy of corpus doc 0
        Row(doc_id=100,
            text="the quick brown fox jumps over the lazy dog again and again"),
        # unrelated new doc
        Row(doc_id=101, text="novel content that matches nothing at all ok"),
        # duplicate of the OTHER new doc — must not appear in output
        Row(doc_id=102, text="novel content that matches nothing at all ok"),
    ])
    nb = D.minhash_bands(D.minhash_signatures(new))
    cb = D.minhash_bands(D.minhash_signatures(corpus))
    cand = D.cross_corpus_candidates(nb, cb)
    got = {(r.new_id, r.corpus_id) for r in cand.collect()}
    assert (100, 0) in got
    assert not any(n in (101, 102) and c in (101, 102) for n, c in got)

    ver = D.cross_jaccard_verify(
        D.shingles_from_tokens(new.select(
            "doc_id", F.split(F.lower("text"), r"\s+").alias("_t"))),
        D.shingles_from_tokens(corpus.select(
            "doc_id", F.split(F.lower("text"), r"\s+").alias("_t"))),
        cand, threshold=0.5)
    rows = ver.collect()
    assert {(r.new_id, r.corpus_id) for r in rows} == {(100, 0)}
    assert rows[0].jaccard == 1.0


def test_bigram_logprob_scores_known_values(spark):
    """Hand-computed conditional probabilities on a 3-doc corpus:
    bigrams 'a b' x2 and 'a c' x1 share head 'a' (count 3), so
    p(b|a)=2/3 and p(c|a)=1/3."""
    import math

    from currency_market_pulse_spark.operators.textops import (
        bigram_logprob_scores,
    )

    docs = _docs(spark, ["a b", "a b", "a c", "x"])
    got = {r.doc_id: (r.n_bigrams, r.bigram_nll)
           for r in bigram_logprob_scores(docs).collect()}
    # the 1-token doc has no bigrams and drops out.  Expected values
    # follow the operator's integer-fixed discipline: log-probs become
    # round(lp * 1e4) integers, the per-doc mean divides back.
    def nll(p, n=1):
        return round(-(round(math.log(p) * 10_000) / (10_000.0 * n)), 6)

    assert set(got) == {0, 1, 2}
    assert got[0] == (1, nll(2 / 3))
    assert got[1] == got[0]
    assert got[2] == (1, nll(1 / 3))


def test_df_cap_differential_where_cap_binds(spark):
    """Spark vs DuckDB equality AT A BINDING CAP (VERDICT r4 item 5):
    the fixtures' max shingle df sits far under DEFAULT_SHINGLE_DF_CAP,
    so the registered oracles never exercised the capped branch — here
    a boilerplate shingle ('the same footer' in every doc, df=4) is
    capped out at cap=2 on BOTH engines and jaccard/containment must
    still agree bitwise."""
    import duckdb

    from currency_market_pulse_spark.queries.dedup import (
        _SH3, _TOKS, sh3cap_cte,
    )

    texts = [
        "alpha beta gamma delta the same footer",
        "alpha beta gamma delta the same footer",   # true near-dup of 0
        "epsilon zeta eta theta the same footer",
        "iota kappa lam mu the same footer",
    ]
    docs = _docs(spark, texts)
    cap = 2

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    jac_sql = f"""
WITH {_TOKS}, {_SH3}, {sh3cap_cte(cap)},
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
"""
    cont_sql = f"""
WITH {_TOKS}, {_SH3}, {sh3cap_cte(cap)},
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
"""
    jac_oracle = sorted(map(tuple, con.execute(jac_sql).fetchall()))
    cont_oracle = sorted(map(tuple, con.execute(cont_sql).fetchall()))

    jac_spark = sorted((r.id_a, r.id_b, r.jaccard)
                       for r in D.ngram_jaccard_pairs(
                           docs, n=3, threshold=0.5,
                           max_shingle_df=cap).collect())
    cont_spark = sorted((r.id_a, r.id_b, r.cont_a_in_b, r.cont_b_in_a)
                        for r in D.containment_pairs(
                            docs, n=3, threshold=0.5,
                            max_shingle_df=cap).collect())
    assert jac_spark == jac_oracle
    assert cont_spark == cont_oracle
    # the cap actually bound: doc 0/1 are identical (uncapped jaccard
    # 1.0), but the capped run drops their df=4 footer shingles while
    # sizes stay pre-cap, so capped jaccard understates — if the cap
    # hadn't bound, the two values would be equal
    unc = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_df=None).collect()}
    capped = dict((p[:2], p[2]) for p in jac_spark)
    assert unc[(0, 1)] == 1.0
    assert capped[(0, 1)] < 1.0


def test_chunk_dedup_first_occurrence_wins(spark):
    """Passage-level dedup keeps exactly the globally-first occurrence
    (min (doc_id, idx)) of each distinct chunk — including a chunk
    repeated WITHIN one document."""
    # chunk size 2: doc 0 = [a b][c d][a b]  (self-repeat)
    #               doc 1 = [c d][x y]       (cross-doc repeat)
    docs = _docs(spark, ["a b c d a b", "c d x y"])
    occ = {(r.doc_id, r.idx): (r.chunk, r.keep)
           for r in D.chunk_occurrences(docs, chunk_tokens=2).collect()}
    assert occ[(0, 0)] == ("a b", True)
    assert occ[(0, 1)] == ("c d", True)
    assert occ[(0, 2)] == ("a b", False)   # within-doc repeat dropped
    assert occ[(1, 0)] == ("c d", False)   # cross-doc repeat dropped
    assert occ[(1, 1)] == ("x y", True)

    stats = {r.doc_id: r for r in
             D.chunk_dedup_docs(docs, chunk_tokens=2).collect()}
    assert (stats[0].n_chunks, stats[0].n_kept) == (3, 2)
    assert (stats[1].n_chunks, stats[1].n_kept) == (2, 1)
    import hashlib
    assert stats[0].scrubbed_md5 == hashlib.md5(b"a b c d").hexdigest()
    assert stats[1].scrubbed_md5 == hashlib.md5(b"x y").hexdigest()


def test_chunk_dedup_full_duplicate_doc_scrubs_to_empty(spark):
    """An exact duplicate document loses every chunk; its scrubbed
    text is the empty string (md5(''), the oracle's coalesce twin)."""
    import hashlib

    docs = _docs(spark, ["a b c d", "a b c d"])
    stats = {r.doc_id: r for r in
             D.chunk_dedup_docs(docs, chunk_tokens=2).collect()}
    assert stats[1].n_kept == 0
    assert stats[1].drop_frac == 1.0
    assert stats[1].scrubbed_md5 == hashlib.md5(b"").hexdigest()
    assert stats[0].n_kept == 2


def test_chunk_dedup_partial_tail_chunk(spark):
    """Token counts not divisible by the chunk size produce a short
    tail chunk (slice clamps on both engines)."""
    docs = _docs(spark, ["a b c"])
    occ = sorted((r.idx, r.chunk) for r in
                 D.chunk_occurrences(docs, chunk_tokens=2).collect())
    assert occ == [(0, "a b"), (1, "c")]


def test_substring_removal_plan_merges_overlapping_windows(spark):
    """The removal plan merges the run's overlapping removable windows
    into ONE contiguous span on the non-owner doc: span count is 1,
    removed chars cover at least the windows' union but never exceed
    the run (windows live strictly inside the duplicated run, so the
    merged interval cannot leak into the unique flanks), and the owner
    doc plus the distinct doc produce no plan rows at all."""
    run = "".join(chr(97 + (i * 7) % 26) + str((i * i) % 10)
                  for i in range(60))   # non-periodic, 120 chars
    docs = spark.createDataFrame(
        [(0, "x" * 37 + run + "z" * 13),
         (1, run + "y" * 41),
         (2, "q" * 0 + "unique text with no forty-char twin anywhere")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            D.substring_removal_plan(docs).collect()}
    assert set(rows) == {1}          # owner (0) and distinct (2) absent
    r = rows[1]
    assert r.n_spans == 1            # overlapping windows merged
    assert r.n_removable_windows >= 1
    assert D.SPAN_CHARS <= r.removed_chars <= len(run)
    assert r.kept_chars == len(run) + 41 - r.removed_chars
    assert 0.0 < r.removed_frac < 1.0


def test_substring_removal_plan_disjoint_runs_never_merge(spark):
    """Two separately-duplicated runs with a wide unique gap in the
    same doc yield at least two merged spans — the island break fires
    when the next window starts past the running max end, so spans
    can never bridge the unique gap."""
    import hashlib
    run_a = "".join(chr(97 + (i * 7) % 26) + str((i * i) % 10)
                    for i in range(60))
    run_b = "".join(chr(122 - (i * 5) % 26) + str((i * 3) % 10)
                    for i in range(60))
    gap = "".join(hashlib.sha256(f"g{j}".encode()).hexdigest()
                  for j in range(3))   # 192 unique chars, > SPAN_CHARS
    docs = spark.createDataFrame(
        [(0, run_a), (1, run_b),
         (2, run_a + gap + run_b)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            D.substring_removal_plan(docs).collect()}
    # doc 0 owns run_a windows, doc 1 owns run_b's; doc 2's copies of
    # BOTH runs are removable.  Selection sparsity may split islands
    # WITHIN a run (this fixture's selected run_b windows sit 55 chars
    # apart — a legitimate extra island), but merging across the 192
    # unique gap chars would be a bug, so: >= 2 spans, removed chars
    # bounded by the two runs.
    assert rows[2].n_spans >= 2
    assert rows[2].removed_chars <= len(run_a) + len(run_b)


def test_survivors_and_split_leakage_consistency(spark):
    """Survivor counts partition the corpus; the leakage matrix's pair
    total equals the family pair-relation count and contains at least
    one cross-split (leaking) cell at fixture scale."""
    from currency_market_pulse_spark.plans.prepare import index
    from currency_market_pulse_spark.queries.dedup import (
        dedup_survivors, documents_split_leakage,
    )
    from currency_market_pulse_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    surv = dedup_survivors(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    assert sum(r.n_docs for r in surv) == docs.count()
    assert all(r.n_dropped + r.n_kept == r.n_docs for r in surv)
    assert sum(r.n_dropped for r in surv) > 0  # fixture has near-dups

    leak = documents_split_leakage(spark, SF_DIR).collect()
    n_pairs = index(spark, SF_DIR, "jaccard_pairs").count()
    assert sum(r.n_pairs for r in leak) == n_pairs
    assert any(r.is_leak for r in leak)
    assert all((r.split_lo != r.split_hi) == r.is_leak for r in leak)


def test_substring_rolling_twin_shift_invariant_and_fast_path(spark):
    """The SAME long run planted at different, non-stride-aligned
    offsets in two docs must still collide: content-defined (mod-p)
    window selection picks identical run-relative positions in both
    copies — the property that killed the fixed-stride first cut of
    this operator.  Doc 2 is shorter than one window and drops out;
    doc 0 (lower doc_id => lower packed key) owns.  Distinct
    non-self-repeating docs have zero duplicated windows."""
    import hashlib

    run = "".join(chr(97 + (i * 7) % 26) + str((i * i) % 10)
                  for i in range(60))
    docs = spark.createDataFrame(
        [(0, "x" * 37 + run + "z" * 13),
         (1, run + "y" * 41),
         (2, "tiny")],
        "doc_id long, text string")
    rows = {r.doc_id: r
            for r in D.substring_span_stats(docs).collect()}
    assert 2 not in rows
    assert rows[0].dup_fingerprints >= 1
    assert rows[1].dup_fingerprints >= 1
    assert rows[1].removable_fingerprints >= 1
    assert rows[0].removable_fingerprints == 0

    t0 = "".join(hashlib.sha256(f"r0{j}".encode()).hexdigest()
                 for j in range(2))
    t1 = "".join(hashlib.sha256(f"r1{j}".encode()).hexdigest()
                 for j in range(2))
    distinct = spark.createDataFrame(
        [(0, t0), (1, t1)], "doc_id long, text string")
    for r in D.substring_span_stats(distinct).collect():
        assert r.dup_fingerprints == 0
        assert r.dup_frac == 0.0


def test_substring_removal_plan_rolling_honors_id_col(spark):
    """ADVICE r7: the rolling kernel once hardcoded doc_id and threw
    on a custom id_col; a renamed id column must give the same plan."""
    run = "".join(chr(97 + (i * 7) % 26) + str((i * i) % 10)
                  for i in range(60))
    docs = spark.createDataFrame(
        [(0, "x" * 37 + run + "z" * 13),
         (1, run + "y" * 41),
         (2, "tiny")],
        "doc_id long, text string")
    renamed = docs.withColumnRenamed("doc_id", "page_id")
    base = {r.doc_id: (r.n_spans, r.removed_chars, r.kept_chars)
            for r in D.substring_removal_plan(docs).collect()}
    custom_df = D.substring_removal_plan(renamed, id_col="page_id")
    assert "page_id" in custom_df.columns
    custom = {r.page_id: (r.n_spans, r.removed_chars, r.kept_chars)
              for r in custom_df.collect()}
    assert base == custom
