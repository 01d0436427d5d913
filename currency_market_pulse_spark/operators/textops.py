"""Text-analysis operators for training-data curation: quality
scoring, language ID, token counting, document fingerprinting.

All JVM-side Catalyst expressions (split / higher-order array functions
/ regexp) — no Python in the hot path; a 100 TB corpus scan stays in
whole-stage codegen end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from currency_market_pulse_spark.functions.text import (
    STOPWORDS, seeded_md5, shingles, tokens,
)

#: BPE-ish pre-tokenization: letter runs, digit runs, single other
#: non-space symbols — a deterministic proxy for subword token counts.
BPE_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def quality_features(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document quality signals: token counts, type-token ratio,
    mean token length, stopword ratio, char count."""
    # STAGED token array (r18, guide §1.2 per-task work): referencing
    # tokens(text) directly in every output column re-inlines the
    # regex split per expression — and Spark's subexpression
    # elimination does not fire across expressions containing lambda
    # functions (filter/transform), so the split executed once per
    # derived column instead of once per row.  One projection
    # materializes the array; every feature then reads the bound
    # column.  (Same staging discipline as operators/dedup.py
    # shingles_from_tokens, measured there at 30x.)
    staged = docs.select(F.col(id_col), F.col(text_col),
                         tokens(F.col(text_col)).alias("_t"))
    t = F.col("_t")
    n_tok = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    sum_len = F.aggregate(F.transform(t, lambda x: F.length(x)),
                          F.lit(0), lambda acc, v: acc + v)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(en_stop, x)))
    return staged.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct.cast("double") / n_tok, 6).alias("type_token_ratio"),
        F.round(sum_len.cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stopword_ratio"),
        F.length(text_col).alias("n_chars_measured"),
    )


def langid_scores(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  label_col: str = "lang") -> DataFrame:
    """Stopword-hit language ID: count hits against each language's
    stopword list; predict the argmax (first language in STOPWORDS
    order wins ties; 'und' when all zero)."""
    # TWO-stage projection (r18, guide §1.2): stage 1 binds the token
    # array (one regex split per row) AND the per-language hit counts;
    # stage 2 derives best/pred/is_match from the BOUND hit columns.
    # Before, `t` and the hit expressions were re-inlined into every
    # reference (greatest over 5 hits, then a 5-arm CASE each
    # re-referencing hits and best, then the is_match equality re-
    # inlining pred) — lambda-bearing expressions defeat Spark's
    # subexpression elimination, so the split and the stoplist scans
    # executed tens of times per row.
    langs = list(STOPWORDS)
    staged = docs.select(F.col(id_col), F.col(label_col),
                         tokens(F.col(text_col)).alias("_t"))
    t = F.col("_t")
    hit_exprs = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hit_exprs[lang] = F.size(
            F.filter(t, lambda x: F.array_contains(arr, x)))
    hits = staged.select(
        F.col(id_col), F.col(label_col),
        *[hit_exprs[lg].alias(f"hits_{lg}") for lg in langs])
    hit_cols = {lg: F.col(f"hits_{lg}") for lg in langs}
    best = F.greatest(*[hit_cols[lg] for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs override on tie
        pred = F.when(hit_cols[lg] == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return hits.select(
        F.col(id_col),
        *[hit_cols[lg].alias(f"hits_{lg}") for lg in langs],
        pred.alias("predicted_lang"),
        F.col(label_col).alias("labeled_lang"),
        (pred == F.col(label_col)).alias("is_match"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace vs BPE-ish token counts + chars — the budget columns
    a training-data pipeline filters and bins on."""
    return docs.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_ws_tokens"),
        F.regexp_count(F.lower(text_col), F.lit(BPE_REGEX)).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars_measured"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Content fingerprints: full-text md5 (exact identity) and the
    minimum shingle hash (winnowing-style robust fingerprint — equal
    for documents sharing their rarest-hashed shingle)."""
    # staged projections: materialize the token array before the
    # shingle transform references it 3x per element (inlining the
    # split into each element_at makes the projection O(tokens^2) per
    # doc — see operators/dedup.py:_doc_shingles).
    staged = docs.select(
        F.col(id_col), F.col(text_col), tokens(F.col(text_col)).alias("_t"))
    min_sh = F.array_min(
        F.transform(shingles(F.col("_t"), 3), lambda s: seeded_md5("fp", s)))
    return staged.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_md5"),
        min_sh.alias("shingle_fingerprint"),
    )


def repetition_metrics(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (token-count
    analogs of the published char-fraction rules — the fixture corpus
    has no line/sentence structure to measure):

    - ``top_token_fraction``: count of the most frequent token over
      total tokens (NULL for empty docs)
    - ``top_bigram_fraction``: count of the most frequent word bigram
      over total bigrams (NULL when < 2 tokens)
    - ``dup_bigram_fraction``: fraction of bigram occurrences that are
      repeats (1 - distinct/total)

    Fully relational (explode -> two aggregations per gram size, one
    shuffle each on doc_id), so oracle-reproducible; the flag
    thresholds live in the query layer.  At 100 TB both explodes are
    map-side from the same scan and the aggregations combine
    partially — same cost shape as any token-statistics pass."""
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    uni = toks.select(F.col(id_col), F.explode_outer("_t").alias("g")) \
        .filter(F.col("g").isNotNull())
    uc = uni.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    us = uc.groupBy(id_col).agg(
        F.max("c").alias("_top_uni"), F.sum("c").alias("n_tokens"))
    # staged: materialize the token array before the bigram transform
    # (inlining re-splits the text per element — see _doc_shingles)
    barr = toks.select(F.col(id_col), shingles(F.col("_t"), 2).alias("_b"))
    big = barr.select(F.col(id_col), F.explode_outer("_b").alias("g")) \
        .filter(F.col("g").isNotNull())
    bc = big.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    bs = bc.groupBy(id_col).agg(
        F.max("c").alias("_top_big"), F.sum("c").alias("_n_big"),
        F.count(F.lit(1)).alias("_d_big"))
    return (us.join(bs, id_col, "left")
            .select(
                F.col(id_col),
                F.col("n_tokens"),
                F.round(F.col("_top_uni") / F.col("n_tokens"), 6)
                 .alias("top_token_fraction"),
                F.round(F.col("_top_big") / F.col("_n_big"), 6)
                 .alias("top_bigram_fraction"),
                F.round(F.lit(1.0) - F.col("_d_big") / F.col("_n_big"), 6)
                 .alias("dup_bigram_fraction"),
            ))


def unigram_logprob_scores(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Corpus-unigram negative log-likelihood per document — the
    cheapest perplexity-style quality score: documents whose tokens are
    improbable under the corpus's own unigram distribution are outliers
    (gibberish, wrong language, boilerplate storms score high).

    nll = -(1/|doc|) * sum over token occurrences of
          ln(count(token) / total_tokens)

    Determinism discipline (Spark<->DuckDB): each token's log-prob is
    fixed to an INTEGER (round(lp * 1e4) as long) so the per-doc total
    is an order-independent integer sum, divided back to a double only
    at the end.  The quantum also rides out the ~5e-13 cross-engine
    ln() divergence the sf1 gate measured (JVM Math.log vs libm — see
    sampling.dsir_logratios, where both failure modes were caught).

    Scale: one explode of the corpus, one (token) aggregate, one
    broadcast-sized join back (the vocabulary is tiny relative to the
    corpus after the count), one (doc) aggregate — partial aggregation
    applies to both shuffles.  This is the same cost shape as TF-IDF
    (queries/text.py:tfidf_top_terms)."""
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    occ = toks.select(F.col(id_col), F.explode_outer("_t").alias("tok")) \
        .filter(F.col("tok").isNotNull())
    vocab = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("tc"))
    total = vocab.agg(F.sum("tc").alias("_n"))
    scored = (occ.join(vocab, "tok").crossJoin(F.broadcast(total))
              .withColumn("_lpi", F.round(
                  F.log(F.col("tc").cast("double") / F.col("_n"))
                  * F.lit(10_000), 0).cast("long")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(-(F.sum("_lpi")
                           / (F.lit(10_000.0) * F.count(F.lit(1)))), 6)
                 .alias("unigram_nll")))


#: ranks fitted by zipf_fit (top-R head of the frequency table).
ZIPF_RANKS = 300

#: fixed-point quantum for the log coordinates (same 1e-4 discipline
#: as the NLL scores — rides out cross-engine ln() ulp divergence).
ZIPF_FIX = 10_000


def zipf_fit(docs: DataFrame, n_ranks: int = ZIPF_RANKS,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-row corpus token-distribution card: least-squares fit of
    ln(count) against ln(rank) over the top ``n_ranks`` tokens — the
    Zipf exponent (slope ≈ -alpha, alpha ≈ 1 for natural language).
    A corpus whose head deviates hard from the power law is a red flag
    (template storms flatten the head, dedup failures steepen it), so
    the slope and its r^2 belong on the per-source data card.

    Determinism: both log coordinates are integer-fixed
    (round(ln(v) * ZIPF_FIX) as long), so every regression sum is an
    exact order-independent integer and the closed-form slope /
    intercept / r^2 are single identical IEEE expressions on both
    engines.  Ranking ties break by token text.

    Scale: one corpus explode + one (token) count aggregate — the
    TF-IDF cost shape — then TakeOrdered for the top-R head (never a
    global sort of the vocabulary) and a regression over R rows."""
    occ = (docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
           .select(F.explode_outer("_t").alias("tok"))
           .filter(F.col("tok").isNotNull()))
    vocab = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("tc"))
    totals = vocab.agg(
        F.sum("tc").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"))
    head = vocab.orderBy(F.desc("tc"), "tok").limit(n_ranks)
    # unpartitioned window over n_ranks rows (post-limit) — safe; see
    # session._silence_windowexec_warning
    w = Window.orderBy(F.desc("tc"), "tok")
    fix = F.lit(float(ZIPF_FIX))
    xy = (head.withColumn("rank", F.row_number().over(w))
          .select(
              F.round(F.log(F.col("rank").cast("double")) * fix, 0)
              .cast("long").alias("x"),
              F.round(F.log(F.col("tc").cast("double")) * fix, 0)
              .cast("long").alias("y")))
    sums = xy.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n_ranks").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col("sxy").cast("double"),
                     F.col("sxx").cast("double"),
                     F.col("syy").cast("double"))
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return (sums.crossJoin(F.broadcast(totals))
            .select(
                "n_ranks", "vocab_size", "total_tokens",
                F.round(slope, 6).alias("zipf_slope"),
                F.round((sy - slope * sx) / n / fix, 6)
                .alias("zipf_intercept"),
                F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2")))


def bigram_logprob_scores(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Corpus-bigram conditional NLL per document — one model order up
    from ``unigram_logprob_scores``: p(w2|w1) = count(w1 w2) /
    count(w1 as bigram head), nll = -(1/n) * sum ln p over the doc's
    bigram occurrences.  Catches locally-fluent-but-odd transitions
    (shuffled text, template storms) that unigram statistics miss.

    MLE on the corpus's own bigrams, no smoothing needed: every scored
    bigram was observed (count >= 1), so probabilities are in (0, 1]
    by construction.  Docs with < 2 tokens have no bigrams and drop
    out, mirroring the oracle.

    Determinism: per-occurrence log-prob integer-fixed at a 1e-4
    quantum before the order-independent per-doc integer sum — the
    unigram query's discipline.

    Scale: one bigram explode, one (bigram) count aggregate, one
    (head) roll-up of that aggregate (vocabulary-sized input, not
    corpus-sized), then two hash joins back to the occurrence stream —
    every aggregate partial, no broadcast assumption on the counts
    (the bigram vocabulary of a 100 TB corpus is itself large)."""
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    barr = toks.select(F.col(id_col), shingles(F.col("_t"), 2).alias("_b"))
    occ = (barr.select(F.col(id_col), F.explode_outer("_b").alias("bg"))
           .filter(F.col("bg").isNotNull()))
    bc = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("_c"))
    heads = (bc.groupBy(F.substring_index("bg", " ", 1).alias("_h"))
             .agg(F.sum("_c").alias("_hc")))
    scored = (occ.join(bc, "bg")
              .withColumn("_h", F.substring_index("bg", " ", 1))
              .join(heads, "_h")
              .withColumn("_lpi", F.round(
                  F.log(F.col("_c").cast("double") / F.col("_hc"))
                  * F.lit(10_000), 0).cast("long")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(-(F.sum("_lpi")
                           / (F.lit(10_000.0) * F.count(F.lit(1)))), 6)
                 .alias("bigram_nll")))


#: PII patterns chosen to mean the same thing in Java regex (Spark),
#: RE2 (DuckDB) and Python re — keep them simple-dialect on purpose.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Compliance scrub: replace emails / IPv4s / phone numbers with
    typed placeholders and count hits per kind.  Pure
    regexp_replace/regexp_count — whole-stage codegen, zero shuffle,
    fuses into the scan like any row-local transform; at 100 TB this
    is a free rider on whatever pass already reads the text.

    Returns (id, n_email, n_ipv4, n_phone, redacted_text).  Order of
    replacement: email first (an email contains no ipv4/phone match
    for these patterns, so ordering is inert — documented anyway)."""
    out = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}"))
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return docs.select(F.col(id_col), *counts, out.alias("redacted_text"))


#: Symbol separator for the BPE encoder's delimited representation —
#: U+001F (unit separator), absent from natural text by construction.
BPE_SEP = "\x1f"


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies within
    whitespace tokens — the merge-decision relation of BPE training
    (Sennrich et al. 2016 §2).  One explode + one hash aggregate;
    output size is bounded by the charset squared (a few thousand
    rows), NOT the corpus — broadcast-scale at any SF."""
    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("tk"))
    pairs = (tok.filter(F.length("tk") >= 2)
             .select(F.explode(F.transform(
                 F.sequence(F.lit(1), F.length("tk") - 1),
                 lambda i: F.col("tk").substr(i, F.lit(2)))).alias("pair")))
    return (pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n_occurrences")))


def bpe_merge_array(docs: DataFrame, n_merges: int = 20,
                    text_col: str = "text") -> DataFrame:
    """The trained merge table as ONE row carrying an ordered
    array<struct<pat, rep>> — rank order (count desc, pair asc), top
    ``n_merges``.  Each merge is pre-rendered as the literal
    search/replace strings of the delimited symbol representation
    (see ``bpe_encode_stats``), so application is a pure string fold.

    Built distributed end to end: the pair relation aggregates
    map-side, the (alphabet^2-bounded) counts collapse into a single
    array_sort'd collect_list — no driver collect, no window."""
    ss = BPE_SEP * 2
    ranked = bpe_pair_counts(docs, text_col).select(
        F.struct((-F.col("n_occurrences")).cast("long").alias("neg_n"),
                 "pair").alias("s"))
    arr = ranked.agg(
        F.slice(F.array_sort(F.collect_list("s")), 1, n_merges).alias("m"))
    return arr.select(F.transform(F.col("m"), lambda s: F.struct(
        F.concat(F.lit(BPE_SEP), s.pair.substr(1, 1), F.lit(ss),
                 s.pair.substr(2, 1), F.lit(BPE_SEP)).alias("pat"),
        F.concat(F.lit(BPE_SEP), s.pair, F.lit(BPE_SEP)).alias("rep"),
    )).alias("merges"))


def bpe_encode_stats(docs: DataFrame, n_merges: int = 20,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """APPLY the trained merges: greedy left-to-right encoding of the
    corpus with the top-``n_merges`` learned merges, in learned order
    (Sennrich et al. 2016 §2 — the operator a data pipeline runs after
    induction).  Per doc: (doc_id, n_tokens, n_chars, n_bpe_symbols,
    compression_ratio).

    Representation: each token becomes a SEP-delimited symbol string
    ``SS s1 SS s2 SS ... sk SS`` (SS = double separator); merge
    (a, b) -> ab is the literal replace of ``SEP a SS b SEP`` with
    ``SEP ab SEP``.  Because every replacement keeps one separator on
    each flank, adjacent merge sites re-form valid match sites as the
    scan proceeds ("abab" -> [ab, ab]) while left-to-right
    non-rescanning replace() gives exactly BPE's greedy-left pass
    ("aaa" -> [aa, a]) — semantics proven identical in Spark and
    DuckDB by the planted tests.  The whole encode is one
    F.aggregate fold of F.replace over the broadcast merge array:
    pure codegen'd string ops, zero Python, zero extra shuffles —
    the corpus is touched once, map-side, then one doc aggregate."""
    ss = BPE_SEP * 2
    merges = bpe_merge_array(docs, n_merges, text_col)
    tok = docs.select(F.col(id_col),
                      F.explode(tokens(F.col(text_col))).alias("tk"))
    sym = F.concat(F.regexp_replace("tk", "(.)", ss + "$1"), F.lit(ss))
    enc = F.aggregate(F.col("merges"), sym,
                      lambda acc, m: F.replace(acc, m.pat, m.rep))
    n_sym = F.size(F.split(enc, ss)) - 2
    per_tok = (tok.crossJoin(F.broadcast(merges))
               .select(id_col, "tk", n_sym.alias("_ns")))
    n_chars = F.sum(F.length("tk")).alias("n_chars")
    n_syms = F.sum("_ns").alias("n_bpe_symbols")
    return (per_tok.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"), n_chars, n_syms)
            .select(id_col, "n_tokens", "n_chars", "n_bpe_symbols",
                    F.when(F.col("n_bpe_symbols") > 0, F.round(
                        F.col("n_chars").cast("double")
                        / F.col("n_bpe_symbols"), 6)).alias(
                            "compression_ratio")))


#: Gopher-rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", App. A quality
#: heuristics — token-count analogs of the published rules, stated as
#: INTEGER comparisons so both engines agree with zero float rounding):
#:   tokens      30 <= n_tokens <= 2000      (Gopher: 50..100k words)
#:   word_len    2 <= mean token len <= 12   (sum_len in [2n, 12n])
#:   stopwords   >= 2 stoplist hits          (Gopher: >= 2 of a small list)
#:   symbols     symbol chars <= 10% of text (10*n_sym <= n_chars)
#:   repetition  top token <= 25% of tokens  (4*top_uni <= n_tokens)
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 2000


def gopher_flags(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document Gopher-rule pass flags plus the integer evidence
    columns they derive from: (id, n_tokens, sum_tok_len, n_stop,
    n_sym, n_chars, top_uni, pass_tokens, pass_word_len,
    pass_stopwords, pass_symbols, pass_repetition, keep).

    Every rule is an integer inequality (see thresholds above) —
    nothing here rounds, so the filter decision is bit-portable by
    construction.  Cost shape: one row-local projection for four rules
    + the top-token aggregate (explode -> two hash aggregates, the
    repetition_metrics unigram pass) joined back on id."""
    t = tokens(F.col(text_col))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.aggregate(F.transform(t, lambda x: F.length(x)),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("sum_tok_len"),
        F.size(F.filter(t, lambda x: F.array_contains(en_stop, x)))
         .alias("n_stop"),
        F.length(F.regexp_replace(F.lower(F.col(text_col)),
                                  r"[a-z0-9\s]", "")).alias("n_sym"),
        F.length(text_col).alias("n_chars"),
    )
    uni = (docs.select(F.col(id_col), F.explode(t).alias("g"))
           .groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
           .groupBy(id_col).agg(F.max("c").alias("top_uni")))
    f = base.join(uni, id_col, "left")
    flags = f.select(
        "*",
        ((F.col("n_tokens") >= GOPHER_MIN_TOKENS)
         & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)).alias("pass_tokens"),
        ((F.col("sum_tok_len") >= 2 * F.col("n_tokens"))
         & (F.col("sum_tok_len") <= 12 * F.col("n_tokens")))
        .alias("pass_word_len"),
        (F.col("n_stop") >= 2).alias("pass_stopwords"),
        (10 * F.col("n_sym") <= F.col("n_chars")).alias("pass_symbols"),
        (4 * F.coalesce("top_uni", F.lit(0)) <= F.col("n_tokens"))
        .alias("pass_repetition"),
    )
    keep = (F.col("pass_tokens") & F.col("pass_word_len")
            & F.col("pass_stopwords") & F.col("pass_symbols")
            & F.col("pass_repetition"))
    return flags.withColumn("keep", keep)


def gopher_filter(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The kept corpus: ``docs`` minus every Gopher-rule failure.
    Row-local rules fuse into the corpus scan; the repetition rule's
    aggregate joins back on id — one shuffle, the same cost as any
    per-doc token statistic."""
    keep_ids = gopher_flags(docs, id_col, text_col) \
        .filter(F.col("keep")).select(id_col)
    return docs.join(keep_ids, id_col, "left_semi")


#: BM25 parameters (Robertson et al.; the Lucene-default shape).
BM25_K1 = 1.2
BM25_B = 0.75
#: fixed-point quantum for the per-(doc, term) partial score — summed
#: as integers so the per-doc total is fold-order independent, and the
#: ln() inside IDF rides out cross-engine ulp divergence (the same
#: 1e-4/1e-6 discipline as the NLL family).
BM25_FIX = 1_000_000


def bm25_topk(docs: DataFrame, queries: list[tuple[int, list[str]]],
              k1: float = BM25_K1, b: float = BM25_B, top_k: int = 10,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """BM25 retrieval: top-``top_k`` documents per query —
    (query_id, doc_id, bm25, rn).

    score(D, q) = sum over t in q of
        IDF(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    with the Lucene IDF ln(1 + (N - df + 0.5)/(df + 0.5)).

    Determinism: IDF is integer-fixed (x1e4) at the vocabulary level;
    each (doc, term) partial score is integer-fixed (x1e6) and the
    per-doc sum runs over LONGS, so the ranking is an exact function
    of the corpus on both engines — ln() ulp noise and float sum order
    cannot flip a rank.

    Scale shape: tf/df/length aggregates are the TF-IDF passes (one
    corpus explode, partial-agg shuffles); the query relation is a
    literal handful of (query_id, term) rows BROADCAST into the tf
    relation — the classic inverted-index probe: only postings of
    query terms survive the join, so scoring work is sum of the query
    terms' document frequencies, not corpus x queries."""
    qrows = [(qid, t) for qid, terms in queries for t in terms]
    spark = docs.sparkSession
    qdf = spark.createDataFrame(qrows, "query_id int, tok string")

    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    occ = (toks.select(F.col(id_col), F.explode_outer("_t").alias("tok"))
           .filter(F.col("tok").isNotNull()))
    tf = occ.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_len"))

    idf = df_.join(F.broadcast(stats)).select(
        "tok",
        F.round(F.log(F.lit(1.0)
                      + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                      / (F.col("df") + F.lit(0.5))) * F.lit(10_000), 0)
        .cast("long").alias("idf_fix"))

    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    tfd = F.col("tf").cast("double")
    tfnorm = (tfd * (F.lit(k1) + 1.0)
              / (tfd + F.lit(k1) * (F.lit(1.0 - b)
                                    + F.lit(b) * F.col("dl") / avgdl)))
    part = (tf.join(F.broadcast(qdf), "tok")
            .join(F.broadcast(idf.join(F.broadcast(qdf), "tok")
                              .select("tok", "idf_fix").distinct()), "tok")
            .join(dl, id_col)
            .crossJoin(F.broadcast(stats))
            .select("query_id", F.col(id_col),
                    F.round(F.col("idf_fix") / F.lit(10_000.0) * tfnorm
                            * F.lit(BM25_FIX), 0).cast("long")
                    .alias("_sfix")))
    scored = (part.groupBy("query_id", id_col)
              .agg(F.round(F.sum("_sfix") / F.lit(float(BM25_FIX)), 6)
                   .alias("bm25")))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), id_col)
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .orderBy("query_id", "rn"))


#: Count-min sketch dimensions.  width * rows * 8 B = 16 KiB of count
#: state regardless of corpus size; expected per-cell collision load at
#: N total tokens is N / width, so the classic eps = e / width
#: overestimate bound is ~0.5% of N per probe at width 512.
CMS_ROWS = 4
CMS_WIDTH = 512


def cms_bucket(tok, row, width: int = CMS_WIDTH):
    """The CMS cell hash: pmod(hex64(md5(row|'|'|tok)), width).  ONE
    definition shared by the sketch builder, the estimate probe and
    the streaming heavy-hitter probe (and mirrored by the _CMS_CELLS
    oracle) — build and probe MUST agree bit-for-bit or min() reads
    the wrong cells and the never-undercount invariant breaks."""
    return F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(row.cast("string"), F.lit("|"), tok)),
            1, 15), 16, 10).cast("long"),
        F.lit(width))


def _token_stream(docs: DataFrame, text_col: str = "text",
                  tokens_df: DataFrame | None = None) -> DataFrame:
    """The exploded (tok) occurrence stream.  ``tokens_df`` — an
    already-tokenized (id, _t array) relation, e.g. the dedup family's
    session-shared persisted token pass (plans/prepare.py tokens) —
    skips the scan+tokenize entirely (r17: the CMS family re-tokenized
    the corpus once per subtree; one shared token pass per session is
    the whole point of that cache).  Identity argument: tokens() of
    NULL text is a NULL array and explode() drops NULL/empty arrays,
    exactly matching the text IS NOT NULL filter on the raw path."""
    if tokens_df is not None:
        return tokens_df.select(F.explode("_t").alias("tok"))
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.filter(F.col(text_col).isNotNull())
            .repartition(par)
            .select(F.explode(tokens(F.col(text_col))).alias("tok")))


def cms_sketch(docs: DataFrame, rows: int = CMS_ROWS,
               width: int = CMS_WIDTH,
               text_col: str = "text",
               tokens_df: DataFrame | None = None) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    stream: (row, bucket, cnt) with cnt = total occurrences of tokens
    hashing to that cell — at most ``rows * width`` rows TOTAL, however
    large the corpus.

    This is the bounded-memory frequency store for heavy-hitter
    tracking at 100 TB: exact token counting needs dictionary-sized
    aggregation state (the long tail of a web corpus is billions of
    distinct tokens), while the sketch's aggregation state is
    rows*width cells per partition, the post-shuffle relation is
    ~2k rows, and two sketches MERGE by cell-wise addition — the
    property that makes it work sharded and streaming.  The token x
    rows explode multiplies map-side work only; partial aggregation
    collapses it to rows*width entries per partition before the
    (single, tiny) shuffle.

    Hashes are the portable seeded-md5 family, so the sketch is
    DETERMINISTIC and the DuckDB oracle rebuilds it bit-identically —
    an unusual luxury for a sketch (cf. the HLL profile twin, which
    gets an error-bound gate instead)."""
    # pre-explode repartition to full parallelism: compressed parquet
    # keeps the corpus at 1-2 input splits even at sf1 while the
    # per-row work (tokenize + 4 md5s per token) is heavy — the
    # repo-wide input-split starvation fix (plans/prepare.py _tokens;
    # measured here: sf1 20.4s -> 5.1s, sf0.1 2.5s -> 1.5s)
    occ = _token_stream(docs, text_col, tokens_df)
    rowed = occ.select(
        F.col("tok"),
        F.explode(F.sequence(F.lit(0), F.lit(rows - 1))).alias("row"))
    bucket = cms_bucket(F.col("tok"), F.col("row"), width)
    return (rowed.select("row", bucket.alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimates(docs: DataFrame, rows: int = CMS_ROWS,
                  width: int = CMS_WIDTH,
                  text_col: str = "text",
                  tokens_df: DataFrame | None = None) -> DataFrame:
    """Per-distinct-token count-min estimate: min over the sketch rows
    of the probed cell — (tok, est).  The sketch side of the probe join
    is <= rows*width rows and BROADCAST; the distinct-token relation
    never carries counts, only probe keys.  est >= true count always
    (the sketch never undercounts); the overestimate is bounded by
    colliding mass (text_cms_error regression-gates it)."""
    sketch = cms_sketch(docs, rows, width, text_col, tokens_df)
    cand = _token_stream(docs, text_col, tokens_df).distinct()
    probes = cand.select(
        "tok",
        F.explode(F.sequence(F.lit(0), F.lit(rows - 1))).alias("row"))
    bucket = cms_bucket(F.col("tok"), F.col("row"), width)
    return (probes.select("tok", "row", bucket.alias("bucket"))
            .join(F.broadcast(sketch), ["row", "bucket"])
            .groupBy("tok")
            .agg(F.min("cnt").alias("est")))
