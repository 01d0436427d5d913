"""Property-based differential test: the flagship trends aggregation
on hypothesis-generated trades (window-boundary timestamps, extreme
rates, duplicate instants) must match DuckDB computing the same query
over the very same rows.  Complements the fixed-fixture selfcheck with
adversarial inputs."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from currency_market_pulse_spark.operators.trends import trends

T0 = dt.datetime(2024, 8, 12, 0, 0, 0)

# timestamps biased toward exact 10-minute edges and off-by-one-second
# neighbors — where floor/inclusive-bounds bugs live
offset_s = st.one_of(
    st.integers(min_value=0, max_value=86_399),
    st.integers(min_value=0, max_value=143).map(lambda k: k * 600),
    st.integers(min_value=1, max_value=143).map(lambda k: k * 600 - 1),
)
rate = st.one_of(
    st.floats(min_value=1e-6, max_value=1e6, allow_nan=False,
              allow_infinity=False),
    st.sampled_from([1.0, 0.5, 2.0, 1e-6, 1e6]),
)
trade = st.tuples(offset_s, rate, st.sampled_from(["EUR", "GBP"]))


@settings(max_examples=12, deadline=None)
@given(rows=st.lists(trade, min_size=1, max_size=60))
@pytest.mark.slow
def test_trends_matches_duckdb_on_random_trades(spark, rows):
    pdf = pd.DataFrame({
        "currency_from": [cf for _, _, cf in rows],
        "currency_to": ["USD"] * len(rows),
        "rate": [r for _, r, _ in rows],
        "time_placed": [T0 + dt.timedelta(seconds=s) for s, _, _ in rows],
    })
    lo, hi = T0 + dt.timedelta(hours=2), T0 + dt.timedelta(hours=20)

    sdf = trends(spark.createDataFrame(pdf),
                 date_from=lo, date_to=hi,
                 currency_from="EUR", currency_to="USD").toPandas()

    con = duckdb.connect()
    con.register("trades", pdf)
    odf = con.execute("""
        SELECT time_bucket(INTERVAL '10 minutes', time_placed) AS time_window,
               min(rate) AS min, max(rate) AS max,
               avg(rate) AS mean, median(rate) AS median
        FROM trades
        WHERE time_placed >= ? AND time_placed <= ?
          AND currency_from = 'EUR' AND currency_to = 'USD'
        GROUP BY 1 ORDER BY 1
    """, [lo, hi]).df()

    assert len(sdf) == len(odf)
    assert list(pd.to_datetime(sdf.time_window)) == list(pd.to_datetime(odf.time_window))
    for col in ("min", "max", "mean", "median"):
        for a, b in zip(sdf[col], odf[col]):
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), (col, a, b)
