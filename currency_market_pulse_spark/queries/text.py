"""Text-analysis queries over ``documents`` (operators/textops.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from currency_market_pulse_spark.functions.text import STOPWORDS
from currency_market_pulse_spark.operators import textops as X
from currency_market_pulse_spark.queries.registry import extra_query, query
from currency_market_pulse_spark.sources.catalog import (
    load_table, spread_small_scan,
)

_TOKS = (r"toks AS (SELECT doc_id, text, lang, "
         r"string_split_regex(lower(text), '\s+') AS t FROM documents)")


def _stoplist(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


@query(
    "text_quality",
    oracle=f"""
WITH {_TOKS}
SELECT doc_id,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_distinct_tokens,
       round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS type_token_ratio,
       round(CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
             / len(t), 6) AS avg_token_len,
       round(CAST(len(list_filter(t, x -> list_contains({_stoplist('en')}, x)))
             AS DOUBLE) / len(t), 6) AS stopword_ratio,
       length(text) AS n_chars_measured
FROM toks
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: token counts, type-token ratio, mean
    token length, stopword ratio."""
    # r18: spread the under-parallelized small-corpus scan before
    # the heavy per-row expressions (no-op at scale - catalog.py)
    return X.quality_features(spread_small_scan(
        spark, sf_dir, "documents",
        load_table(spark, sf_dir, "documents")))


def _langid_oracle() -> str:
    langs = list(STOPWORDS)
    hits = ", ".join(
        f"len(list_filter(t, x -> list_contains({_stoplist(lg)}, x))) AS hits_{lg}"
        for lg in langs)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in langs) + " END"
    return f"""
WITH {_TOKS},
h AS (SELECT doc_id, lang, {hits} FROM toks)
SELECT doc_id, {', '.join(f'hits_{lg}' for lg in langs)},
       {pred} AS predicted_lang,
       lang AS labeled_lang,
       ({pred}) = lang AS is_match
FROM h
"""


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit n-gram language ID (argmax over per-language hit
    counts, deterministic tie order)."""
    # r18: spread the under-parallelized small-corpus scan before
    # the heavy per-row expressions (no-op at scale - catalog.py)
    return X.langid_scores(spread_small_scan(
        spark, sf_dir, "documents",
        load_table(spark, sf_dir, "documents")))


@query(
    "text_token_counts",
    oracle=rf"""
SELECT doc_id,
       len(string_split_regex(lower(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{X.BPE_REGEX}')) AS n_bpe_tokens,
       length(text) AS n_chars_measured
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting."""
    # r18: spread the under-parallelized small-corpus scan before
    # the heavy per-row expressions (no-op at scale - catalog.py)
    return X.token_counts(spread_small_scan(
        spark, sf_dir, "documents",
        load_table(spark, sf_dir, "documents")))


@query(
    "text_fingerprints",
    oracle=f"""
WITH {_TOKS}
SELECT doc_id,
       md5(text) AS content_md5,
       list_aggregate(
         list_transform(
           list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
           s -> md5('fp|' || s)), 'min') AS shingle_fingerprint
FROM toks
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact md5 + min-shingle-hash (winnowing
    style)."""
    # r18: spread the under-parallelized small-corpus scan before
    # the heavy per-row expressions (no-op at scale - catalog.py)
    return X.fingerprints(spread_small_scan(
        spark, sf_dir, "documents",
        load_table(spark, sf_dir, "documents")))


_REPETITION_ORACLE = f"""
WITH {_TOKS},
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
uc AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
us AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_uni,
              CAST(sum(c) AS BIGINT) AS n_tokens
       FROM uc GROUP BY 1),
big AS (SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
               i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks),
bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_big,
              CAST(sum(c) AS BIGINT) AS n_big,
              count(*) AS d_big
       FROM bc GROUP BY 1)
SELECT us.doc_id, us.n_tokens,
       round(CAST(top_uni AS DOUBLE) / n_tokens, 6) AS top_token_fraction,
       round(CAST(top_big AS DOUBLE) / n_big, 6) AS top_bigram_fraction,
       round(1.0 - CAST(d_big AS DOUBLE) / n_big, 6) AS dup_bigram_fraction
FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
"""


@extra_query("text_repetition", oracle=_REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (token-count analogs): most
    frequent token/bigram fraction and repeated-bigram fraction per
    doc — the filters that catch boilerplate and degenerate generations
    in a training corpus."""
    return X.repetition_metrics(load_table(spark, sf_dir, "documents"))


_NLL_ORACLE = f"""
WITH {_TOKS},
occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
vocab AS (SELECT tok, count(*) AS tc FROM occ GROUP BY tok),
total AS (SELECT CAST(sum(tc) AS BIGINT) AS n FROM vocab),
scored AS (
  -- integer-fixed log-probs (x 1e4): order-independent integer sums,
  -- and the quantum rides out the ~5e-13 JVM-vs-libm ln() divergence
  -- the sf1 gate measured (see operators/sampling.py dsir_logratios)
  SELECT occ.doc_id,
         CAST(round(ln(CAST(tc AS DOUBLE) / n) * 10000, 0) AS BIGINT) AS lpi
  FROM occ JOIN vocab USING (tok) CROSS JOIN total)
SELECT doc_id, count(*) AS n_tokens,
       round(-(sum(lpi) / (10000.0 * count(*))), 6) AS unigram_nll
FROM scored GROUP BY doc_id
"""


def _zipf_oracle() -> str:
    from currency_market_pulse_spark.operators.textops import (
        ZIPF_FIX, ZIPF_RANKS,
    )

    return f"""
WITH {_TOKS},
occ AS (SELECT unnest(t) AS tok FROM toks),
vocab AS MATERIALIZED (SELECT tok, count(*) AS tc FROM occ GROUP BY tok),
totals AS (SELECT CAST(sum(tc) AS BIGINT) AS total_tokens,
                  CAST(count(*) AS BIGINT) AS vocab_size FROM vocab),
head AS (SELECT tc,
                row_number() OVER (ORDER BY tc DESC, tok) AS rank
         FROM vocab ORDER BY tc DESC, tok LIMIT {ZIPF_RANKS}),
xy AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * {ZIPF_FIX}, 0)
                   AS BIGINT) AS x,
              CAST(round(ln(CAST(tc AS DOUBLE)) * {ZIPF_FIX}, 0)
                   AS BIGINT) AS y
       FROM head),
sums AS (SELECT CAST(count(*) AS BIGINT) AS n_ranks,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy
         FROM xy)
SELECT n_ranks, vocab_size, total_tokens,
       round((CAST(n_ranks AS DOUBLE) * sxy
              - CAST(sx AS DOUBLE) * sy)
             / (CAST(n_ranks AS DOUBLE) * sxx
                - CAST(sx AS DOUBLE) * sx), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n_ranks AS DOUBLE) * sxy
                 - CAST(sx AS DOUBLE) * sy)
                / (CAST(n_ranks AS DOUBLE) * sxx
                   - CAST(sx AS DOUBLE) * sx)
                * CAST(sx AS DOUBLE))
             / CAST(n_ranks AS DOUBLE) / {ZIPF_FIX}.0, 6)
         AS zipf_intercept,
       round((CAST(n_ranks AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n_ranks AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n_ranks AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n_ranks AS DOUBLE) * syy
                   - CAST(sy AS DOUBLE) * sy)), 6) AS r2
FROM sums CROSS JOIN totals
"""


@extra_query("text_zipf_fit", oracle=_zipf_oracle())
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf card (operators/textops.py zipf_fit): least-squares
    slope / intercept / r^2 of ln(count) vs ln(rank) over the top-300
    token-frequency head — slope ≈ -1 for natural language; template
    storms flatten it, dedup failures steepen it.  Regression sums are
    integer-fixed logs, so the fit is an exact function of the
    frequency table on both engines."""
    return X.zipf_fit(load_table(spark, sf_dir, "documents"))


@extra_query("text_unigram_nll", oracle=_NLL_ORACLE)
def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score: per-doc mean negative log-prob
    under the corpus's own unigram distribution (outlier docs score
    high).  Token log-probs integer-fixed at a 1e-4 quantum so both
    engines sum identical integers in any order."""
    return X.unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


_BIGRAM_NLL_ORACLE = f"""
WITH {_TOKS},
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                     i -> t[i] || ' ' || t[i+1])) AS bg
       FROM toks),
bc AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
hc AS (SELECT split_part(bg, ' ', 1) AS head, CAST(sum(c) AS BIGINT) AS hcnt
       FROM bc GROUP BY 1),
scored AS (
  -- integer-fixed log-probs — same rationale as the unigram oracle
  SELECT o.doc_id,
         CAST(round(ln(CAST(c AS DOUBLE) / hcnt) * 10000, 0) AS BIGINT) AS lpi
  FROM bg o JOIN bc USING (bg)
  JOIN hc ON hc.head = split_part(o.bg, ' ', 1))
SELECT doc_id, count(*) AS n_bigrams,
       round(-(sum(lpi) / (10000.0 * count(*))), 6) AS bigram_nll
FROM scored GROUP BY doc_id
"""


@extra_query("text_bigram_nll", oracle=_BIGRAM_NLL_ORACLE)
def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order LM quality score: per-doc mean negative
    conditional log-prob of its bigrams under the corpus's own bigram
    model (operators/textops.py bigram_logprob_scores) — flags
    shuffled/templated text whose unigram profile looks normal."""
    return X.bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


_DATA_CARD_ORACLE = f"""
WITH {_TOKS},
d AS (SELECT doc_id, lang, source, n_chars, md5(text) AS th FROM documents),
tc AS (SELECT doc_id, len(t) AS n_toks FROM toks)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT th) AS BIGINT) AS n_unique_texts,
       round(1.0 - count(DISTINCT th) / CAST(count(*) AS DOUBLE), 6)
         AS dup_frac,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(quantile_cont(n_chars, 0.50), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.95), 6) AS p95_chars,
       round(avg(n_toks), 6) AS avg_tokens
FROM d JOIN tc USING (doc_id)
GROUP BY lang, source ORDER BY lang, source
"""


@extra_query("documents_data_card", oracle=_DATA_CARD_ORACLE)
def documents_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition 'data card': per (lang, source) — doc and
    unique-text counts, exact-duplicate fraction, char volume, exact
    interpolated char percentiles, mean token count.  One scan + one
    hash aggregate (count(DISTINCT md5) keeps the heavy text column
    out of the shuffle); the percentile swaps to approx_percentile for
    interactive 100 TB runs (the registered approx twin pattern,
    queries/analytics.py)."""
    from currency_market_pulse_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang", "source", "n_chars",
        F.md5("text").alias("_th"),
        F.size(tokens(F.col("text"))).alias("_nt"))
    return (d.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("_th").alias("n_unique_texts"),
                 F.round(F.lit(1.0) - F.countDistinct("_th")
                         / F.count(F.lit(1)).cast("double"), 6)
                  .alias("dup_frac"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.percentile("n_chars", 0.50), 6)
                  .alias("p50_chars"),
                 F.round(F.percentile("n_chars", 0.95), 6)
                  .alias("p95_chars"),
                 F.round(F.avg("_nt"), 6).alias("avg_tokens"))
            .orderBy("lang", "source"))


#: Fixed linear weights for the quality classifier: (feature, weight)
#: in application order, plus the bias.  A stand-in for a trained
#: fastText/logistic quality model — at deployment the weights come
#: from training; the ENGINE work (feature extraction + linear scoring
#: + threshold filter, one scan, zero shuffle) is identical.
QUALITY_WEIGHTS = (("type_token_ratio", 2.0), ("stopword_ratio", 3.0),
                   ("avg_token_len", -0.2), ("log_tokens", 0.5))
QUALITY_BIAS = -2.2


def _quality_clf_oracle() -> str:
    terms = " + ".join(f"{w!r} * {f}" for f, w in QUALITY_WEIGHTS)
    score = f"round({terms} + {QUALITY_BIAS!r}, 6)"
    return f"""
WITH {_TOKS},
f AS (SELECT doc_id,
        round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
          AS type_token_ratio,
        round(CAST(len(list_filter(t, x ->
              list_contains({_stoplist('en')}, x))) AS DOUBLE) / len(t), 6)
          AS stopword_ratio,
        round(CAST(list_aggregate(list_transform(t, x -> length(x)),
              'sum') AS DOUBLE) / len(t), 6) AS avg_token_len,
        -- round 4, not 6: ln() is the one feature where the engines'
        -- libms can disagree (~5e-13 on identical inputs — measured,
        -- it flipped a 6-decimal boundary at sf1); the coarse quantum
        -- makes the flip probability negligible (~1e-8/doc)
        round(ln(len(t)), 4) AS log_tokens
      FROM toks)
SELECT doc_id, {score} AS quality_score, ({score}) >= 0 AS keep
FROM f
"""


@extra_query("documents_quality_classifier", oracle=_quality_clf_oracle())
def documents_quality_classifier(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a linear classifier over the
    engine's quality features (type-token ratio, stopword ratio, mean
    token length, log token count) with fixed deterministic weights —
    the shape of a fastText/logistic quality gate.  The linear score
    is monotone in the sigmoid, so thresholding the score IS the
    classifier; one scan, zero shuffle, whole-stage codegen.  Each
    feature is rounded before the weighted sum (summed in the declared
    weight order) so both engines fold identical values — log_tokens
    at 4 decimals, because ln() is transcendental and JVM/libm
    disagree at ~5e-13 (every other feature is +,*,/ on identical
    doubles, which IEEE defines bit-exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = (X.quality_features(docs)
             .withColumn("log_tokens",
                         F.round(F.log(F.col("n_tokens")), 4)))
    score = None
    for feat, w in QUALITY_WEIGHTS:
        term = F.lit(w) * F.col(feat)
        score = term if score is None else score + term
    score = F.round(score + F.lit(QUALITY_BIAS), 6)
    return feats.select("doc_id", score.alias("quality_score"),
                        (score >= 0).alias("keep"))


def _pii_oracle() -> str:
    from currency_market_pulse_spark.operators.textops import PII_PATTERNS

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS INT) AS n_{k}"
        for k, p in PII_PATTERNS.items())
    red = "text"
    for k, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '<{k.upper()}>', 'g')"
    return f"""
SELECT doc_id, {counts}, md5({red}) AS redacted_md5
FROM documents
"""


@extra_query("text_pii_scrub", oracle=_pii_oracle())
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit: per-doc email/IPv4/phone hit counts plus
    the md5 of the redacted text — the hash proves the REDACTION
    OUTPUT matches across engines, not just the counts.  (The
    synthetic corpus contains no PII, so counts are 0 here; the
    planted-PII behavior is pinned in tests/test_dedup.py.)"""
    from currency_market_pulse_spark.operators.textops import redact_pii

    out = redact_pii(load_table(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      F.md5("redacted_text").alias("redacted_md5"))


_DIVERSITY_ORACLE = rf"""
WITH {_TOKS},
bi AS (
  SELECT lang, t[i] || ' ' || t[i+1] AS g
  FROM (SELECT lang, t,
               unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        FROM toks) s),
tri AS (
  SELECT lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM (SELECT lang, t,
               unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
        FROM toks) s),
bs AS (SELECT lang, CAST(count(*) AS BIGINT) AS total_bigrams,
              CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
       FROM bi GROUP BY lang),
ts AS (SELECT lang, CAST(count(*) AS BIGINT) AS total_trigrams,
              CAST(count(DISTINCT g) AS BIGINT) AS distinct_trigrams
       FROM tri GROUP BY lang),
nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY lang)
SELECT lang, n_docs, total_bigrams, distinct_bigrams,
       round(distinct_bigrams / CAST(total_bigrams AS DOUBLE), 6)
         AS bigram_ttr,
       total_trigrams, distinct_trigrams,
       round(distinct_trigrams / CAST(total_trigrams AS DOUBLE), 6)
         AS trigram_ttr
FROM nd JOIN bs USING (lang) JOIN ts USING (lang)
"""


@extra_query("documents_ngram_diversity", oracle=_DIVERSITY_ORACLE)
def documents_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram diversity card, per language: distinct/total
    bigram and trigram ratios (corpus-level type-token ratios) — the
    repetitiveness diagnostic LLM data work runs before training (a
    template-farm source shows high volume but collapsing distinct
    ratios; cf. the Gopher/MassiveText corpus analyses).  Two explode +
    hash-aggregate passes (countDistinct partials dedup map-side) and
    a tiny per-lang join — no pairwise anything, linear at 100 TB."""
    from currency_market_pulse_spark.functions.text import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", tokens(F.col("text")).alias("_t"))

    def gram_stats(n: int, pref: str) -> DataFrame:
        g = toks.select("lang",
                        F.explode(shingles(F.col("_t"), n)).alias("_g"))
        return g.groupBy("lang").agg(
            F.count(F.lit(1)).alias(f"total_{pref}"),
            F.countDistinct("_g").alias(f"distinct_{pref}"))

    nd = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (nd.join(gram_stats(2, "bigrams"), "lang")
            .join(gram_stats(3, "trigrams"), "lang")
            .select(
                "lang", "n_docs", "total_bigrams", "distinct_bigrams",
                F.round(F.col("distinct_bigrams")
                        / F.col("total_bigrams").cast("double"), 6)
                 .alias("bigram_ttr"),
                "total_trigrams", "distinct_trigrams",
                F.round(F.col("distinct_trigrams")
                        / F.col("total_trigrams").cast("double"), 6)
                 .alias("trigram_ttr")))


_CURRICULUM_ORACLE = f"""
WITH {_TOKS},
occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
vocab AS (SELECT tok, count(*) AS tc FROM occ GROUP BY tok),
total AS (SELECT CAST(sum(tc) AS BIGINT) AS n FROM vocab),
scored AS (
  SELECT occ.doc_id,
         CAST(round(ln(CAST(tc AS DOUBLE) / n) * 10000, 0) AS BIGINT) AS lpi
  FROM occ JOIN vocab USING (tok) CROSS JOIN total),
nll AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         round(-(sum(lpi) / (10000.0 * count(*))), 6) AS s
  FROM scored GROUP BY doc_id),
q AS (SELECT quantile_cont(s, 0.25) AS q1, quantile_cont(s, 0.50) AS q2,
             quantile_cont(s, 0.75) AS q3 FROM nll)
SELECT CAST(1 + CASE WHEN s > q1 THEN 1 ELSE 0 END
              + CASE WHEN s > q2 THEN 1 ELSE 0 END
              + CASE WHEN s > q3 THEN 1 ELSE 0 END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(s) AS min_nll, max(s) AS max_nll
FROM nll CROSS JOIN q
GROUP BY 1
"""


@extra_query("documents_curriculum_buckets", oracle=_CURRICULUM_ORACLE)
def documents_curriculum_buckets(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Curriculum construction: docs bucketed into difficulty quartiles
    by unigram NLL (easy = most corpus-typical first — the
    competence-based curriculum ordering of Platanios et al. 2019),
    with per-bucket doc/token mass and score range.  Thresholds are
    EXACT interpolated quartiles broadcast back over the score
    relation; per-bucket stats are min/max/integer-sum only — all
    order-independent, no mean-of-doubles to diverge cross-engine.
    At 100 TB the one scale-hostile piece is exact percentile (a
    sort-heavy buffer agg); the production swap is approx_percentile,
    the registered approx-twin pattern (queries/analytics.py)."""
    scores = X.unigram_logprob_scores(load_table(spark, sf_dir,
                                                 "documents"))
    q = scores.agg(
        F.percentile("unigram_nll", 0.25).alias("q1"),
        F.percentile("unigram_nll", 0.50).alias("q2"),
        F.percentile("unigram_nll", 0.75).alias("q3"))
    s = F.col("unigram_nll")
    bucket = (F.lit(1)
              + (s > F.col("q1")).cast("int")
              + (s > F.col("q2")).cast("int")
              + (s > F.col("q3")).cast("int"))
    return (scores.crossJoin(F.broadcast(q))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min(s).alias("min_nll"),
                 F.max(s).alias("max_nll")))


#: Top-N adjacent-pair merges reported by the BPE statistics query.
BPE_TOP_PAIRS = 50

_BPE_PAIRS_ORACLE = f"""
WITH {_TOKS},
tok AS (SELECT unnest(t) AS tk FROM toks),
pairs AS (
  SELECT substr(tk, CAST(i AS INT), 2) AS pair
  FROM (SELECT tk,
               unnest(range(1, greatest(length(tk) - 1, 0) + 1)) AS i
        FROM tok) s)
SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


@extra_query("text_bpe_pair_stats", oracle=_BPE_PAIRS_ORACLE)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-induction statistics: corpus-wide adjacent character
    pair frequencies within whitespace tokens — the merge-decision
    relation of BPE training (Sennrich et al. 2016): the top pair IS
    the first merge, and re-running after each merge replays the
    algorithm.  One explode + one hash aggregate per iteration, the
    shape a distributed tokenizer trainer loops; top-N with a total
    (count desc, pair asc) order so the cut is deterministic.
    Pure Catalyst — substring enumeration via higher-order sequence/
    transform, no UDF."""
    from currency_market_pulse_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tk"))
    pairs = (tok.filter(F.length("tk") >= 2)
             .select(F.explode(F.transform(
                 F.sequence(F.lit(1), F.length("tk") - 1),
                 lambda i: F.col("tk").substr(i, F.lit(2)))).alias("pair")))
    return (pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), "pair")
            .limit(BPE_TOP_PAIRS))


#: Merges applied by the BPE ENCODE query (trained top-N, rank order).
BPE_N_MERGES = 20


def _bpe_encode_oracle(n_merges: int = BPE_N_MERGES) -> str:
    """Replay of operators/textops.py bpe_encode_stats: pair counts ->
    ranked merge table -> n_merges chained literal replaces over the
    delimited symbol strings -> per-doc aggregate.  Scalar-subquery
    coalesce to chr(1) (a never-matching pattern) covers corpora with
    fewer than n_merges distinct pairs, mirroring the Spark fold over
    a short merge array."""
    ss = "chr(31)||chr(31)"
    chain = []
    for i in range(1, n_merges + 1):
        chain.append(
            f"e{i} AS (SELECT doc_id, tk, replace(enc, "
            f"coalesce((SELECT pat FROM mg WHERE rk={i}), chr(1)), "
            f"coalesce((SELECT rep FROM mg WHERE rk={i}), chr(1))) AS enc "
            f"FROM e{i - 1})")
    return f"""
WITH {_TOKS},
tok AS MATERIALIZED (SELECT doc_id, unnest(t) AS tk FROM toks),
pairs AS (
  SELECT substr(tk, CAST(i AS INT), 2) AS pair
  FROM (SELECT tk,
               unnest(range(1, greatest(length(tk) - 1, 0) + 1)) AS i
        FROM tok) s),
mg AS MATERIALIZED (
  SELECT pair,
         chr(31)||substr(pair, 1, 1)||{ss}||substr(pair, 2, 1)||chr(31)
           AS pat,
         chr(31)||pair||chr(31) AS rep,
         row_number() OVER (ORDER BY n DESC, pair) AS rk
  FROM (SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
  QUALIFY rk <= {n_merges}),
e0 AS (SELECT doc_id, tk,
              regexp_replace(tk, '(.)', {ss}||'\\1', 'g')||{ss} AS enc
       FROM tok),
{",".join(chain)}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(length(tk)) AS BIGINT) AS n_chars,
       CAST(sum(len(string_split(enc, {ss})) - 2) AS BIGINT)
         AS n_bpe_symbols,
       CASE WHEN sum(len(string_split(enc, {ss})) - 2) > 0
            THEN round(sum(length(tk)) /
                       CAST(sum(len(string_split(enc, {ss})) - 2)
                            AS DOUBLE), 6) END AS compression_ratio
FROM e{n_merges} GROUP BY doc_id ORDER BY doc_id
"""


@extra_query("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION (closes the induction->application loop of
    text_bpe_pair_stats): encode the corpus with the trained top-20
    merges in learned order and report per-doc token/symbol counts and
    the achieved compression ratio — the operator a training pipeline
    actually runs after tokenizer induction (Sennrich et al. 2016 §2).
    One corpus-bounded pair aggregate trains the (broadcast, 1-row)
    merge table; the encode is a codegen'd string fold, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    return (X.bpe_encode_stats(docs, n_merges=BPE_N_MERGES)
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_bpe_symbols").cast("long")
                    .alias("n_bpe_symbols"),
                    "compression_ratio")
            .orderBy("doc_id"))


def _gopher_oracle() -> str:
    from currency_market_pulse_spark.operators.textops import (
        GOPHER_MAX_TOKENS, GOPHER_MIN_TOKENS,
    )

    stop = _stoplist("en")
    return f"""
WITH {_TOKS},
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
uc AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
us AS (SELECT doc_id, max(c) AS top_uni FROM uc GROUP BY 1),
m AS (
  SELECT tk.doc_id, d.source, d.n_chars AS doc_chars,
         len(tk.t) AS n_tok,
         list_aggregate(list_transform(tk.t, x -> length(x)), 'sum')
           AS sum_len,
         len(list_filter(tk.t, x -> list_contains({stop}, x))) AS n_stop,
         length(regexp_replace(lower(tk.text), '[a-z0-9\\s]', '', 'g'))
           AS n_sym,
         length(tk.text) AS n_chars,
         coalesce(us.top_uni, 0) AS top_uni
  FROM toks tk
  JOIN documents d USING (doc_id)
  LEFT JOIN us USING (doc_id)),
fl AS (
  SELECT *,
         (n_tok BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
           AS p_tok,
         (sum_len BETWEEN 2 * n_tok AND 12 * n_tok) AS p_wl,
         (n_stop >= 2) AS p_stop,
         (10 * n_sym <= n_chars) AS p_sym,
         (4 * top_uni <= n_tok) AS p_rep
  FROM m)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p_tok AND p_wl AND p_stop AND p_sym AND p_rep
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN p_tok AND p_wl AND p_stop AND p_sym AND p_rep
                     THEN doc_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       CAST(sum(CASE WHEN p_tok THEN 0 ELSE 1 END) AS BIGINT)
         AS drop_tokens,
       CAST(sum(CASE WHEN p_wl THEN 0 ELSE 1 END) AS BIGINT)
         AS drop_word_len,
       CAST(sum(CASE WHEN p_stop THEN 0 ELSE 1 END) AS BIGINT)
         AS drop_stopwords,
       CAST(sum(CASE WHEN p_sym THEN 0 ELSE 1 END) AS BIGINT)
         AS drop_symbols,
       CAST(sum(CASE WHEN p_rep THEN 0 ELSE 1 END) AS BIGINT)
         AS drop_repetition
FROM fl GROUP BY source ORDER BY source
"""


@extra_query("documents_gopher_filter", oracle=_gopher_oracle())
def documents_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality FILTER as a corpus transform (Rae et al.
    2021 App. A): per source, total docs, docs/chars surviving ALL
    five rules, and an independent drop count per rule (a doc failing
    two rules counts in both — the per-rule counts are the knobs a
    curation run tunes; the survivors-card shape of dedup_survivors).
    Every rule is an integer inequality — the filter decision is
    bit-portable with no rounding anywhere."""
    from currency_market_pulse_spark.operators.textops import gopher_flags

    docs = load_table(spark, sf_dir, "documents")
    fl = gopher_flags(docs).join(
        docs.select("doc_id", "source", F.col("n_chars").alias("_dc")),
        "doc_id")

    def drop(col):
        return F.sum(F.when(F.col(col), 0).otherwise(1))

    return (fl.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                 .alias("n_kept"),
                 F.sum(F.when(F.col("keep"), F.col("_dc")).otherwise(0))
                 .alias("kept_chars"),
                 drop("pass_tokens").alias("drop_tokens"),
                 drop("pass_word_len").alias("drop_word_len"),
                 drop("pass_stopwords").alias("drop_stopwords"),
                 drop("pass_symbols").alias("drop_symbols"),
                 drop("pass_repetition").alias("drop_repetition"))
            .orderBy("source"))


#: BM25 demo query set — mid/high-frequency fixture vocabulary.
BM25_QUERIES = [
    (1, ["hash", "join", "skew"]),
    (2, ["vector", "scan", "filter"]),
    (3, ["stream", "window", "state"]),
]


def _bm25_oracle() -> str:
    from currency_market_pulse_spark.operators.textops import (
        BM25_B, BM25_FIX, BM25_K1,
    )

    qvals = ", ".join(f"({qid}, '{t}')"
                      for qid, terms in BM25_QUERIES for t in terms)
    return f"""
WITH {_TOKS},
occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM occ GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM occ GROUP BY 1),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
idf AS (SELECT tok, CAST(round(ln(1 + (st.n_docs - df + 0.5)
                                      / (df + 0.5)) * 10000, 0) AS BIGINT)
               AS idf_fix
        FROM df, st),
q(query_id, tok) AS (VALUES {qvals}),
part AS (
  SELECT q.query_id, tf.doc_id,
         CAST(round(idf.idf_fix / 10000.0
                    * (tf.tf * ({BM25_K1} + 1.0)
                       / (tf.tf + {BM25_K1}
                          * ((1.0 - {BM25_B}) + {BM25_B} * dl.dl
                             / (CAST(st.total_len AS DOUBLE)
                                / st.n_docs))))
                    * {BM25_FIX}, 0) AS BIGINT) AS sfix
  FROM tf
  JOIN q ON q.tok = tf.tok
  JOIN idf ON idf.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st),
scored AS (
  SELECT query_id, doc_id,
         round(sum(sfix) / CAST({BM25_FIX} AS DOUBLE), 6) AS bm25
  FROM part GROUP BY 1, 2)
SELECT query_id, doc_id, bm25, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY bm25 DESC, doc_id) AS rn
  FROM scored) x
WHERE rn <= 10 ORDER BY query_id, rn
"""


@extra_query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/textops.py bm25_topk): top-10
    documents for three fixed multi-term queries — the lexical
    retrieval leg next to the embedding-ANN ladder, the shape a RAG /
    eval-mining pipeline runs over the corpus.  Inverted-index probe
    cost (only query-term postings survive the broadcast join); every
    log integer-fixed, every per-doc sum an integer sum."""
    from currency_market_pulse_spark.operators.textops import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, BM25_QUERIES, top_k=10)
    return out.select("query_id", "doc_id", "bm25", "rn")


#: fixed-point quantum for per-token JSD contributions (1e-6 — coarse
#: enough that ln() ulp noise cannot flip a rounded contribution, the
#: r5 DSIR lesson; fine enough for a drift score reported to 6dp).
JSD_FIX = 1_000_000


def _drift_oracle() -> str:
    return f"""
WITH {_TOKS},
occ AS (SELECT source, unnest(t) AS tok
        FROM toks JOIN documents USING (doc_id)),
vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_all FROM occ
          GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t_all FROM occ),
per_src AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_s
            FROM occ GROUP BY 1, 2),
src_tot AS (SELECT source, CAST(count(*) AS BIGINT) AS t_s FROM occ
            GROUP BY 1),
grid AS (
  SELECT st.source, v.tok, v.c_all, st.t_s, coalesce(ps.c_s, 0) AS c_s
  FROM src_tot st
  CROSS JOIN vocab v
  LEFT JOIN per_src ps ON ps.source = st.source AND ps.tok = v.tok),
contrib AS (
  SELECT g.source,
         CAST(round((
           0.5 * (CASE WHEN g.c_s > 0 THEN
             (g.c_s / CAST(g.t_s AS DOUBLE))
             * ln((g.c_s / CAST(g.t_s AS DOUBLE))
                  / ((g.c_s / CAST(g.t_s AS DOUBLE)
                      + g.c_all / CAST(t.t_all AS DOUBLE)) / 2))
             ELSE 0 END)
           + 0.5 * ((g.c_all / CAST(t.t_all AS DOUBLE))
             * ln((g.c_all / CAST(t.t_all AS DOUBLE))
                  / ((g.c_s / CAST(g.t_s AS DOUBLE)
                      + g.c_all / CAST(t.t_all AS DOUBLE)) / 2)))
         ) * {JSD_FIX}, 0) AS BIGINT) AS cfix
  FROM grid g CROSS JOIN tot t)
SELECT c.source, st.t_s AS n_tokens,
       round(sum(c.cfix) / {JSD_FIX}.0, 6) AS jsd_vs_corpus
FROM contrib c JOIN src_tot st ON st.source = c.source
GROUP BY 1, 2 ORDER BY 1
"""


@extra_query("documents_source_drift", oracle=_drift_oracle())
def documents_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift card: per source, Jensen-Shannon divergence of its
    unigram token distribution against the whole corpus — the
    distribution-shift monitor a recurring-ingest pipeline runs so a
    source that changes character (scraper broke, template flood,
    language shift) trips a gate instead of silently skewing the mix.

    Shape: two token aggregates (vocab, per-source counts) and a
    vocabulary x sources grid — bounded by |V| * |sources|, NOT the
    corpus (the vocabulary relation is the small side; at 100 TB it is
    the same broadcast-scale object tf-idf/NLL already rely on).
    Per-token contributions integer-fixed (x1e6) so the summed
    divergence is fold-order independent and ln() ulp noise cannot
    flip it."""
    from currency_market_pulse_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select("source",
                      F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all"))
    tot = occ.agg(F.count(F.lit(1)).alias("t_all"))
    per_src = occ.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c_s"))
    src_tot = occ.groupBy("source").agg(F.count(F.lit(1)).alias("t_s"))
    grid = (src_tot.crossJoin(F.broadcast(vocab))
            .join(per_src, ["source", "tok"], "left")
            .na.fill(0, ["c_s"])
            .crossJoin(F.broadcast(tot)))
    p = F.col("c_s") / F.col("t_s").cast("double")
    q = F.col("c_all") / F.col("t_all").cast("double")
    m = (p + q) / 2
    contrib = (F.lit(0.5) * F.when(F.col("c_s") > 0,
                                   p * F.log(p / m)).otherwise(0.0)
               + F.lit(0.5) * (q * F.log(q / m)))
    cfix = F.round(contrib * F.lit(JSD_FIX), 0).cast("long")
    return (grid.select("source", "t_s", cfix.alias("cfix"))
            .groupBy("source", "t_s")
            .agg(F.round(F.sum("cfix") / F.lit(float(JSD_FIX)), 6)
                 .alias("jsd_vs_corpus"))
            .select("source", F.col("t_s").alias("n_tokens"),
                    "jsd_vs_corpus")
            .orderBy("source"))


_CMS_CELLS = rf"""
occ AS MATERIALIZED (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL),
cells AS MATERIALIZED (
  SELECT row, CAST(('0x' || substr(md5(CAST(row AS VARCHAR) || '|' || tok),
                    1, 15)) AS BIGINT) % {X.CMS_WIDTH} AS bucket,
         count(*) AS cnt
  FROM occ, range({X.CMS_ROWS}) r(row) GROUP BY 1, 2),
est AS MATERIALIZED (
  SELECT tok, min(cnt) AS est
  FROM (SELECT tok,
               row,
               CAST(('0x' || substr(md5(CAST(row AS VARCHAR) || '|' || tok),
                     1, 15)) AS BIGINT) % {X.CMS_WIDTH} AS bucket
        FROM (SELECT DISTINCT tok FROM occ) c, range({X.CMS_ROWS}) r(row)) p
  JOIN cells USING (row, bucket)
  GROUP BY tok)
"""

_CMS_HH_ORACLE = f"""
WITH {_CMS_CELLS}
SELECT tok, CAST(est AS BIGINT) AS est
FROM est ORDER BY est DESC, tok LIMIT 20
"""


@query("text_cms_heavy_hitters", oracle=_CMS_HH_ORACLE)  # registered r7
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by count-min-sketch estimate (operators/textops.py
    cms_sketch / cms_estimates — Cormode & Muthukrishnan 2005): token
    frequencies tracked in CMS_ROWS x CMS_WIDTH = 4x512 cells of count
    state (16 KiB, corpus-size-independent, cell-wise mergeable across
    shards and stream batches), probed per distinct token through a
    BROADCAST join of the ~2k-row sketch.  Top-20 by estimate,
    deterministic tie-break on token.  The seeded-md5 hash family makes
    the sketch replayable, so a sketch gets an EXACT differential gate
    (the HLL profile twin, engine-specific, gets only an error bound).
    """
    # r17: both CMS subtrees (sketch build + distinct-token probe) read
    # the dedup family's session-shared token relation WHEN IT IS
    # PERSISTED (the >= 2 MiB corpus regime) — one tokenize pass per
    # session for the whole text family.  Below the threshold the
    # relation is an unpersisted repartition plan and consuming it is
    # strictly worse than the operator's own fused scan+tokenize
    # (plans/prepare.py tokens_if_persisted), so small fixtures
    # keep the raw path.  orderBy + limit stays: it compiles to
    # TakeOrderedAndProject (no global sort), and the top-20 cut IS
    # the query's semantics.
    from currency_market_pulse_spark.plans.prepare import (
        tokens_if_persisted,
    )
    est = X.cms_estimates(
        load_table(spark, sf_dir, "documents"),
        tokens_df=tokens_if_persisted(spark, sf_dir))
    return (est.select("tok", "est")
            .orderBy(F.desc("est"), "tok").limit(20))


_CMS_ERR_ORACLE = f"""
WITH {_CMS_CELLS},
exact AS (SELECT tok, count(*) AS c FROM occ GROUP BY tok)
SELECT CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN est > c THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overestimated,
       CAST(max(est - c) AS BIGINT) AS max_overestimate,
       CAST(min(est - c) AS BIGINT) AS min_overestimate
FROM est JOIN exact USING (tok)
"""


@extra_query("text_cms_error", oracle=_CMS_ERR_ORACLE)
def text_cms_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS overestimate audit (the sim_ann_recall pattern for the
    frequency sketch): every distinct token's estimate joined against
    its exact count — tokens audited, how many are overestimated, the
    worst and best overestimate.  min_overestimate < 0 is structurally
    impossible (count-min never undercounts); this query turns that
    invariant plus the collision-load envelope into a regression gate
    a width/rows re-tune must pass."""
    docs = load_table(spark, sf_dir, "documents")
    est = X.cms_estimates(docs)
    exact = (docs.filter(F.col("text").isNotNull())
             .select(F.explode(
                 F.split(F.lower("text"), r"\s+")).alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    d = F.col("est") - F.col("c")
    return (est.join(exact, "tok")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum((d > 0).cast("long")).alias("n_overestimated"),
                 F.max(d).alias("max_overestimate"),
                 F.min(d).alias("min_overestimate")))
