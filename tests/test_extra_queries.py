"""Differential gate for the library-tier queries.

The driver's correctness window covers only the first 50 registered
``queries()`` entries, so the registry is capped at 50 distinct
operators (queries/registry.py:MAX_REGISTERED) and near-duplicate
variants live in ``EXTRA_QUERIES``.  This test holds every one of them
to the same DuckDB-differential standard the driver applies to the
registered tier: row count + schema + order-insensitive values, with
the strict Arrow dtype check (HUGEINT/uint64 oracles fail).
"""

from __future__ import annotations

import pytest

from currency_market_pulse_spark.oracle import (
    check_against_oracle, check_within_bound, duck_con,
)
from currency_market_pulse_spark.queries.registry import (
    EXTRA_ORACLES, EXTRA_QUERIES, EXTRA_RTOL, MAX_REGISTERED, ORACLES,
    QUERIES,
)

from tests.conftest import EXTRA_SF_DIR


@pytest.fixture(scope="module")
def con():
    c = duck_con(EXTRA_SF_DIR)
    yield c
    c.close()


def test_registry_within_driver_window():
    assert len(QUERIES) <= MAX_REGISTERED
    assert not (set(QUERIES) & set(EXTRA_QUERIES))
    assert set(ORACLES) <= set(QUERIES)
    assert set(EXTRA_ORACLES) <= set(EXTRA_QUERIES)


@pytest.mark.parametrize("name", sorted(EXTRA_QUERIES))
def test_extra_query_matches_oracle(spark, con, name):
    sql = EXTRA_ORACLES.get(name)
    assert sql is not None, f"{name} demoted without an oracle"
    if name in EXTRA_RTOL:
        # sketch estimator: error-bound gate, not bitwise (registry.py)
        verdict, n = check_within_bound(
            spark, con, EXTRA_QUERIES[name], sql, EXTRA_SF_DIR,
            rtol=EXTRA_RTOL[name])
        assert verdict == "WITHIN-BOUND", f"{name}: {verdict}"
    else:
        # EXACT only (VERDICT r3 item 4a): APPROX diagnoses float
        # summation-order drift — oracle.py's own guidance is to round
        # both sides rather than ship it, and no query needs the
        # allowance today.
        verdict, n = check_against_oracle(
            spark, con, EXTRA_QUERIES[name], sql, EXTRA_SF_DIR)
        assert verdict == "EXACT", f"{name}: {verdict}"
    assert n > 0, f"{name} returned no rows at {EXTRA_SF_DIR}"


def test_operators_md_counts_match_registry():
    """OPERATORS.md's tier counts are registry-derived facts; this pins
    them so they can never drift again (VERDICT r5 item 3 — the same
    artifact-of-record discipline bench claims got in r5)."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    md = open(os.path.join(repo, "OPERATORS.md")).read()
    n_extra, n_exact = len(EXTRA_QUERIES), len(EXTRA_QUERIES) - len(EXTRA_RTOL)
    assert f"**library tier** ({n_extra} entries" in md
    m = re.search(r"plus (\d+) library-tier entries \(†\) — (\d+) EXACT,"
                  r"\n(\d+) WITHIN-BOUND", md)
    assert m, "library-tier count line missing from OPERATORS.md"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == \
        (n_extra, n_exact, len(EXTRA_RTOL))
    assert f"{len(QUERIES)} registered queries" in md
