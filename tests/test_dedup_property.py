"""Property-based differential for the shingle-join jaccard operator:
on random small corpora (including short/empty/duplicate docs), the
distributed plan must equal a direct per-pair Python computation.

Complements the fixture-based DuckDB oracle: hypothesis explores the
degenerate corners (docs shorter than n tokens, identical docs,
all-distinct docs) that a fixed fixture cannot."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from currency_market_pulse_spark.operators.dedup import ngram_jaccard_pairs

WORDS = ["a", "b", "c", "d", "e"]

doc_strategy = st.lists(st.sampled_from(WORDS), min_size=0, max_size=8)
corpus_strategy = st.lists(doc_strategy, min_size=2, max_size=6)


def _py_shingles(tokens: list[str], n: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def _py_pairs(corpus: list[list[str]], n: int, threshold: float):
    sh = [_py_shingles(toks, n) for toks in corpus]
    out = {}
    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            if not (sh[i] & sh[j]):
                continue  # the shingle join only sees sharing pairs
            jac = round(len(sh[i] & sh[j]) / len(sh[i] | sh[j]), 6)
            if jac >= threshold:
                out[(i, j)] = jac
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=corpus_strategy)
def test_jaccard_matches_python_reference(spark, corpus):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(corpus)],
        schema="doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                        max_shingle_df=None).collect()}
    assert got == _py_pairs(corpus, 3, 0.3)


@settings(max_examples=10, deadline=None)
@given(st.text(alphabet="abcxy", min_size=0, max_size=120))
def test_rolling_fingerprints_match_python_reference(spark, text):
    """The vectorized prefix-sum rolling hash must equal a direct
    per-window polynomial evaluation in pure Python for arbitrary
    text — including the empty/short-doc guards."""
    from pyspark.sql import Row

    from currency_market_pulse_spark.operators import dedup as D

    span, modp = 20, 4   # smaller span so short fuzz inputs have windows
    docs = spark.createDataFrame([Row(doc_id=1, text=text)])
    out = D.substring_span_stats(docs, span_chars=span, modp=modp)
    got = {r.doc_id: r.n_fingerprints for r in out.collect()}

    # reference: fp per window by direct power sum, count 0-mod-p picks
    def ref_count(t):
        if len(t) < span:
            return None
        n_sel = 0
        for i in range(len(t) - span + 1):
            h1 = h2 = 0
            for ch in t[i:i + span]:
                h1 = (h1 * D.ROLL_B + ord(ch)) % D.ROLL_M1
                h2 = (h2 * D.ROLL_B + ord(ch)) % D.ROLL_M2
            if (h1 * (1 << 31) + h2) % modp == 0:
                n_sel += 1
        return n_sel or None   # docs with zero selections emit no row

    expect = ref_count(text)
    assert got.get(1) == expect
