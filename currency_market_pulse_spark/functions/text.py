"""Text primitives for the dedup / text-analysis operators: tokenizing,
shingling, and a PORTABLE hash family.

Portability contract: every hash used in a differential-tested operator
is built from md5 hex strings, which Spark and DuckDB (and any engine)
compute identically.  Two forms:

- ``md5(s)``: 32-char hex string; lexicographic min over a set is a
  deterministic "min-hash" (hex ordering == value ordering).
- ``hex_hash64(s)``: first 15 hex chars parsed as a long (60 bits,
  always positive) — for bit tricks (SimHash, LSH planes).

All expressions are built-in Catalyst (whole-stage codegen); the n-gram
shingling uses higher-order array functions, not a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: small multilingual stopword table for quality scoring / language ID.
#: Deterministic and mirrored verbatim into the DuckDB oracles.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de", "le", "shi", "bu", "wo"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased).  split on \\s+ mirrors
    DuckDB string_split_regex."""
    return F.split(F.lower(text), r"\s+")


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>, built with higher-order
    functions (1-indexed element_at matches DuckDB list indexing).

    Guarded for short docs: Spark ``sequence(1, 0)`` DESCENDS to
    ``[1, 0]`` (unlike DuckDB's empty ``range``), and element_at(_, 0)
    throws — so a doc with fewer than n tokens must short-circuit to an
    empty array, mirroring the oracle's empty range.  NULL input stays
    NULL on both sides."""
    empty = F.array().cast("array<string>")
    return (
        F.when(F.size(toks) >= n, F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]),
        ))
        .when(toks.isNotNull(), empty)
        .otherwise(F.lit(None).cast("array<string>"))
    )


def hex_hash64(s: Column) -> Column:
    """Portable 60-bit integer hash: long value of md5(s)[0:15].
    DuckDB equivalent: ('0x' || substr(md5(s),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def seeded_md5(seed: int | str, s: Column) -> Column:
    """One member of the portable hash family: md5('<seed>|' || s)."""
    return F.md5(F.concat(F.lit(f"{seed}|"), s))
