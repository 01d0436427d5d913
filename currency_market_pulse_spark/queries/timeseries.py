"""Market-data time-series queries beyond the reference's single
aggregation: OHLC candlesticks, gap-filled resampling, TF-IDF weighted
document similarity.  The natural next queries a user of the reference
would ask for — same scan/window machinery, richer outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from currency_market_pulse_spark.queries.registry import query
from currency_market_pulse_spark.sources.catalog import (
    ORACLE_TRADES_CTE, events_as_trades, load_table,
)


@query(
    "trades_ohlc",
    oracle=f"""
WITH {ORACLE_TRADES_CTE},
w AS (
  SELECT time_bucket(INTERVAL '30 minutes', time_placed) AS bar_start, rate,
         amount_sell_micros,
         row_number() OVER (PARTITION BY time_bucket(INTERVAL '30 minutes', time_placed)
                            ORDER BY time_placed, amount_sell_micros, rate) AS rn_open,
         row_number() OVER (PARTITION BY time_bucket(INTERVAL '30 minutes', time_placed)
                            ORDER BY time_placed DESC, amount_sell_micros DESC, rate DESC) AS rn_close
  FROM trades_n WHERE currency_from = 'PUR' AND rate IS NOT NULL)
SELECT bar_start,
       round(max(CASE WHEN rn_open = 1 THEN rate END), 6) AS open,
       round(max(rate), 6) AS high,
       round(min(rate), 6) AS low,
       round(max(CASE WHEN rn_close = 1 THEN rate END), 6) AS close,
       CAST(sum(amount_sell_micros) AS BIGINT) AS volume_micros,
       count(*) AS n_trades
FROM w GROUP BY bar_start ORDER BY bar_start
""",
)
def trades_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars (30-minute): open/close via deterministic
    first/last-in-window (composite tie-break), high/low/volume as
    plain aggregates.  One shuffle on the bar; the first/last rank and
    the aggregation share it."""
    t = (events_as_trades(spark, sf_dir)
         .filter((F.col("currency_from") == "PUR") & F.col("rate").isNotNull()))
    bar = F.window("time_placed", "30 minutes").start
    t = t.withColumn("bar_start", bar)
    asc = Window.partitionBy("bar_start").orderBy(
        "time_placed", "amount_sell_micros", "rate")
    desc = Window.partitionBy("bar_start").orderBy(
        F.desc("time_placed"), F.desc("amount_sell_micros"), F.desc("rate"))
    return (
        t.withColumn("rn_open", F.row_number().over(asc))
        .withColumn("rn_close", F.row_number().over(desc))
        .groupBy("bar_start")
        .agg(
            F.round(F.max(F.when(F.col("rn_open") == 1, F.col("rate"))), 6).alias("open"),
            F.round(F.max("rate"), 6).alias("high"),
            F.round(F.min("rate"), 6).alias("low"),
            F.round(F.max(F.when(F.col("rn_close") == 1, F.col("rate"))), 6).alias("close"),
            F.sum("amount_sell_micros").alias("volume_micros"),
            F.count("*").alias("n_trades"),
        )
        # r17: terminal ORDER BY removed (presentation only)
    )


@query(
    "trades_gapfill",
    oracle=f"""
WITH {ORACLE_TRADES_CTE},
bounds AS (
  SELECT min(time_bucket(INTERVAL '6 hours', time_placed)) AS lo,
         max(time_bucket(INTERVAL '6 hours', time_placed)) AS hi
  FROM trades_n WHERE currency_from = 'SIG'),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '6 hours')) AS slot FROM bounds),
agg AS (
  SELECT time_bucket(INTERVAL '6 hours', time_placed) AS slot,
         count(*) AS n_trades, round(avg(rate), 6) AS mean_rate
  FROM trades_n WHERE currency_from = 'SIG' GROUP BY 1)
SELECT g.slot, coalesce(a.n_trades, 0) AS n_trades,
       a.mean_rate, a.n_trades IS NULL AS is_gap
FROM grid g LEFT JOIN agg a ON a.slot = g.slot
ORDER BY g.slot
""",
)
def trades_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resampling: a dense 6-hour grid between the first and
    last observed slot, empty slots emitted with n_trades=0 — the
    downsampling step every charting/feature pipeline needs (absent
    windows otherwise silently disappear from groupBy output).  The
    grid generates from one min/max row — no driver loop."""
    t = events_as_trades(spark, sf_dir).filter(F.col("currency_from") == "SIG")
    slot = F.window("time_placed", "6 hours").start
    agg = (t.groupBy(slot.alias("slot"))
           .agg(F.count("*").alias("n_trades"),
                F.round(F.avg("rate"), 6).alias("mean_rate")))
    bounds = agg.agg(F.min("slot").alias("lo"), F.max("slot").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 6 HOURS"))).alias("slot"))
    return (
        grid.join(agg, "slot", "left")
        .select("slot",
                F.coalesce("n_trades", F.lit(0)).alias("n_trades"),
                "mean_rate",
                F.col("n_trades").isNull().alias("is_gap"))
        # r17: terminal ORDER BY removed (presentation only)
    )


@query(
    "tfidf_top_terms",
    oracle=r"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok)
SELECT doc_id, tok, tfidf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
           ORDER BY tfidf DESC, tok) AS rn FROM scored) x
WHERE rn <= 3 AND doc_id < 100
ORDER BY doc_id, rn
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency x inverse document frequency, top-3
    characteristic terms per document.  Two aggregations (tf, df) + a
    broadcast join of the (small) df table; ln() is IEEE-identical
    across engines for these magnitudes (rounded 6 regardless)."""
    # r17: token stream comes from the session-shared token relation
    # WHEN PERSISTED (>= 2 MiB corpus — one tokenize pass per session
    # for the whole text family); below the threshold the shared
    # relation is an unpersisted repartition plan and consuming it was
    # measured strictly worse (tfidf 1.3 -> 3.4 s at sf0.1: the n_docs
    # count, previously a column-pruned scan-only count, became a full
    # tokenize+shuffle) — see plans/prepare.py
    # tokens_if_persisted.  Same tokens() expression either
    # way (tokens() IS split(lower, \\s+)); tokens() of NULL text is a
    # NULL array and explode drops it, matching the raw path.  n_docs
    # always counts the raw scan (column-pruned — cheapest) and stays
    # a lazy broadcast-1-row join.
    from currency_market_pulse_spark.plans.prepare import (
        tokens_if_persisted,
    )
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    shared = tokens_if_persisted(spark, sf_dir)
    if shared is not None:
        toks = shared.select("doc_id", F.explode("_t").alias("tok"))
    else:
        toks = docs.select("doc_id", F.explode(
            F.split(F.lower("text"), r"\s+")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    scored = (tf.join(F.broadcast(df_), "tok")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "tok",
                      F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")),
                              6).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    # r17: terminal ORDER BY removed (presentation only)
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
            .select("doc_id", "tok", "tfidf", "rn"))


from currency_market_pulse_spark.queries.registry import extra_query  # noqa: E402

def _hourly_vwap(t: DataFrame) -> DataFrame:
    """(currency_from, h, _buy, _sell) per (pair, hour) with the
    _sell > 0 guard — the shared base series of the market suite,
    mirrored by the _HOURLY_VWAP_CTE oracle CTE.  One definition so a
    bucket-width or guard change cannot diverge the three consumers
    from the one oracle."""
    return (t.groupBy(
        "currency_from",
        F.window("time_placed", "1 hour").start.alias("h"))
        .agg(F.count("*").alias("_n"),
             F.sum("amount_buy_micros").alias("_buy"),
             F.sum("amount_sell_micros").alias("_sell"))
        .filter(F.col("_sell") > 0))


#: EWMA smoothing factor and the fixed-point scale for log-returns.
EWMA_ALPHA = 0.2
LOGRET_FIX = 1_000_000


@query(  # registered r7: the reference-domain aggregation flagship
    "trades_vwap",
    oracle=f"""
WITH {ORACLE_TRADES_CTE}
SELECT currency_from,
       time_bucket(INTERVAL '1 hour', time_placed) AS time_window,
       count(*) AS n_trades,
       CAST(sum(amount_sell_micros) AS BIGINT) AS volume_sell_micros,
       round(sum(amount_buy_micros) / CAST(sum(amount_sell_micros)
             AS DOUBLE), 6) AS vwap
FROM trades_n
GROUP BY 1, 2 HAVING sum(amount_sell_micros) > 0 ORDER BY 1, 2
""",
)
def trades_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (pair, hour): VWAP computed as
    a RATIO OF INTEGER SUMS (sum buy micros / sum sell micros) — the
    fixed-point reason the reference stores micros in the first place
    (db/clickhouse/init.sql) carried to its analytical conclusion: the
    aggregation is order-independent exact int64 arithmetic, with ONE
    double division at the very end, so VWAP is reproducible under any
    partitioning.  Averaging per-trade float rates would weight trades
    equally AND be fold-order-dependent; this is both correct finance
    and correct distributed arithmetic."""
    return (_hourly_vwap(events_as_trades(spark, sf_dir))
            .select("currency_from",
                    F.col("h").alias("time_window"),
                    F.col("_n").alias("n_trades"),
                    F.col("_sell").alias("volume_sell_micros"),
                    F.round(F.col("_buy").cast("double")
                            / F.col("_sell"), 6).alias("vwap")))
            # r17: terminal ORDER BY removed (presentation only)


_HOURLY_VWAP_CTE = f"""
WITH {ORACLE_TRADES_CTE},
hourly AS (
  SELECT currency_from,
         time_bucket(INTERVAL '1 hour', time_placed) AS h,
         sum(amount_buy_micros) / CAST(sum(amount_sell_micros) AS DOUBLE)
           AS vwap
  FROM trades_n
  GROUP BY 1, 2 HAVING sum(amount_sell_micros) > 0)
"""


@extra_query(
    "trades_ewma",
    oracle=f"""
{_HOURLY_VWAP_CTE},
series AS (
  SELECT currency_from, list(vwap ORDER BY h) AS xs
  FROM hourly GROUP BY currency_from)
SELECT currency_from,
       CAST(len(xs) AS BIGINT) AS n_hours,
       round(list_reduce(xs,
             (acc, x) -> round(acc * {1 - EWMA_ALPHA} + {EWMA_ALPHA} * x,
                               9)), 6) AS ewma
FROM series ORDER BY currency_from
""",
)
def trades_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly VWAP per
    pair (the trader's smoothed price line): y_t = (1-a)*y_{t-1} + a*x_t
    folded left-to-right over the hour-sorted series, ROUNDED TO 9 AT
    EVERY STEP — the k-means handoff-rounding discipline applied to a
    recursive filter, which keeps both engines' fold bitwise aligned
    (the raw recursion accumulates ulp drift that compounds over long
    series).  Base series is the integer-sum VWAP (trades_vwap), so
    nothing upstream is fold-order-dependent either.  Per-pair state
    is one hours-length array — bounded by the time range, not the
    trade count, so collect_list here is windows-not-data sized."""
    hourly = (_hourly_vwap(events_as_trades(spark, sf_dir))
              .select("currency_from", "h",
                      (F.col("_buy").cast("double") / F.col("_sell"))
                      .alias("vwap")))
    series = (hourly.groupBy("currency_from")
              .agg(F.array_sort(F.collect_list(F.struct("h", "vwap")))
                   .alias("_s")))
    xs = F.transform(F.col("_s"), lambda s: s["vwap"])
    fold = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, x: F.round(acc * F.lit(1 - EWMA_ALPHA)
                               + F.lit(EWMA_ALPHA) * x, 9))
    return (series.select("currency_from",
                          F.size("_s").cast("long").alias("n_hours"),
                          F.round(fold, 6).alias("ewma"))
            .orderBy("currency_from"))


@extra_query(
    "trades_volatility",
    oracle=f"""
{_HOURLY_VWAP_CTE},
lr AS (
  SELECT currency_from, h,
         CAST(round(ln(vwap) * {LOGRET_FIX}) AS BIGINT) AS lfix
  FROM hourly),
ret AS (
  SELECT currency_from,
         lfix - lag(lfix) OVER (PARTITION BY currency_from ORDER BY h)
           AS r
  FROM lr),
agg AS (
  SELECT currency_from, count(r) AS n,
         sum(r) AS s, sum(r * r) AS s2
  FROM ret WHERE r IS NOT NULL GROUP BY currency_from)
SELECT currency_from, CAST(n AS BIGINT) AS n_returns,
       round(sqrt((n * s2 - s * s) / CAST(n * (n - 1) AS DOUBLE))
             / {LOGRET_FIX}, 6) AS vol
FROM agg WHERE n >= 2 ORDER BY currency_from
""",
)
def trades_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility per pair: sample stddev of hourly log
    returns.  ln(vwap) is snapped to 1e-6 fixed point BEFORE
    differencing (the repo-wide ln() ulp-divergence fix: JVM Math.log
    and libm disagree in the last ulp, so raw doubles would diverge
    cross-engine), making returns and both moment sums EXACT int64
    arithmetic — order-independent under any partitioning — with one
    double sqrt at the end.  Moment-sum headroom: |ln(vwap)*1e6| <~
    2^21 here, so s2 fits int64 up to ~2^21 returns per pair; a longer
    horizon re-scales LOGRET_FIX, it does not change the shape."""
    hourly = (_hourly_vwap(events_as_trades(spark, sf_dir))
              .select("currency_from", "h",
                      F.round(F.log(F.col("_buy").cast("double")
                                    / F.col("_sell")) * LOGRET_FIX, 0)
                      .cast("long").alias("lfix")))
    w = Window.partitionBy("currency_from").orderBy("h")
    ret = (hourly
           .withColumn("r", F.col("lfix") - F.lag("lfix").over(w))
           .filter(F.col("r").isNotNull()))
    agg = (ret.groupBy("currency_from")
           .agg(F.count("r").alias("n"),
                F.sum("r").alias("s"),
                F.sum(F.col("r") * F.col("r")).alias("s2")))
    vol = F.round(
        F.sqrt((F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
               / (F.col("n") * (F.col("n") - 1)).cast("double"))
        / F.lit(float(LOGRET_FIX)), 6)
    return (agg.filter(F.col("n") >= 2)
            .select("currency_from", F.col("n").alias("n_returns"),
                    vol.alias("vol"))
            .orderBy("currency_from"))


@extra_query(
    "trades_rate_alerts",
    oracle=f"""
{_HOURLY_VWAP_CTE},
lr AS (
  SELECT currency_from, h,
         CAST(round(ln(vwap) * {LOGRET_FIX}) AS BIGINT) AS lfix
  FROM hourly),
ret AS (
  SELECT currency_from, h,
         lfix - lag(lfix) OVER (PARTITION BY currency_from ORDER BY h)
           AS r
  FROM lr),
vol AS (
  SELECT currency_from,
         sqrt((count(r) * sum(r * r) - sum(r) * sum(r))
              / CAST(count(r) * (count(r) - 1) AS DOUBLE)) AS vfix
  FROM ret WHERE r IS NOT NULL GROUP BY currency_from
  HAVING count(r) >= 2)
SELECT ret.currency_from, ret.h AS time_window,
       CAST(ret.r AS BIGINT) AS logret_fix,
       CAST(round(3 * vol.vfix) AS BIGINT) AS threshold_fix
FROM ret JOIN vol ON vol.currency_from = ret.currency_from
WHERE ret.r IS NOT NULL AND abs(ret.r) > 3 * vol.vfix
ORDER BY ret.currency_from, time_window
""",
)
def trades_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility-breakout alerts: hours whose |log return| exceeds
    3x the pair's realized volatility — the monitoring rule a market
    dashboard derives from trades_volatility.  All comparisons happen
    between an exact int64 return and 3x a sqrt of exact integer
    moment sums (identical IEEE doubles on both engines); the rule is
    self-referential (the breakout inflates the vol it is compared
    against) in the standard way a fixed-window realized-vol alert
    is."""
    hourly = (_hourly_vwap(events_as_trades(spark, sf_dir))
              .select("currency_from", "h",
                      F.round(F.log(F.col("_buy").cast("double")
                                    / F.col("_sell")) * LOGRET_FIX, 0)
                      .cast("long").alias("lfix")))
    w = Window.partitionBy("currency_from").orderBy("h")
    ret = (hourly
           .withColumn("r", F.col("lfix") - F.lag("lfix").over(w))
           .filter(F.col("r").isNotNull()))
    vol = (ret.groupBy("currency_from")
           .agg(F.count("r").alias("n"), F.sum("r").alias("s"),
                F.sum(F.col("r") * F.col("r")).alias("s2"))
           .filter(F.col("n") >= 2)
           .select("currency_from",
                   F.sqrt((F.col("n") * F.col("s2")
                           - F.col("s") * F.col("s"))
                          / (F.col("n") * (F.col("n") - 1))
                          .cast("double")).alias("vfix")))
    return (ret.join(F.broadcast(vol), "currency_from")
            .filter(F.abs(F.col("r")) > 3 * F.col("vfix"))
            .select("currency_from", F.col("h").alias("time_window"),
                    F.col("r").alias("logret_fix"),
                    F.round(3 * F.col("vfix"), 0).cast("long")
                    .alias("threshold_fix"))
            .orderBy("currency_from", "time_window"))


@extra_query(
    "trades_pair_correlation",
    oracle=f"""
{_HOURLY_VWAP_CTE},
lr AS (
  SELECT currency_from, h,
         CAST(round(ln(vwap) * {LOGRET_FIX}) AS BIGINT) AS lfix
  FROM hourly),
ret AS (
  SELECT currency_from, h,
         lfix - lag(lfix) OVER (PARTITION BY currency_from ORDER BY h)
           AS r
  FROM lr),
rr AS (SELECT currency_from, h, r FROM ret WHERE r IS NOT NULL),
joined AS (
  SELECT a.currency_from AS pair_a, b.currency_from AS pair_b,
         a.r AS ra, b.r AS rb
  FROM rr a JOIN rr b
    ON a.h = b.h AND a.currency_from < b.currency_from),
sums AS (
  SELECT pair_a, pair_b, count(*) AS n,
         sum(ra) AS sx, sum(rb) AS sy,
         sum(ra * rb) AS sxy, sum(ra * ra) AS sxx, sum(rb * rb) AS syy
  FROM joined GROUP BY pair_a, pair_b HAVING count(*) >= 2)
SELECT pair_a, pair_b, CAST(n AS BIGINT) AS n_hours,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)), 6) AS corr
FROM sums ORDER BY pair_a, pair_b
""",
)
def trades_pair_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-pair co-movement: Pearson correlation of hourly log
    returns for every currency-pair combination — the matrix a risk
    dashboard reads for hedging/contagion.  Returns are the 1e-6
    fixed-point integers of trades_volatility, the hour join aligns
    the two series, and every moment sum is exact int64 — one double
    expression at the very end, so the matrix is reproducible under
    any partitioning.  Pair-combination count is |pairs| choose 2
    (handfuls), so the self-join fanout is bounded by the PAIR count,
    not data size."""
    hourly = (_hourly_vwap(events_as_trades(spark, sf_dir))
              .select("currency_from", "h",
                      F.round(F.log(F.col("_buy").cast("double")
                                    / F.col("_sell")) * LOGRET_FIX, 0)
                      .cast("long").alias("lfix")))
    w = Window.partitionBy("currency_from").orderBy("h")
    rr = (hourly
          .withColumn("r", F.col("lfix") - F.lag("lfix").over(w))
          .filter(F.col("r").isNotNull())
          .select("currency_from", "h", "r"))
    a = rr.select(F.col("currency_from").alias("pair_a"),
                  "h", F.col("r").alias("ra"))
    b = rr.select(F.col("currency_from").alias("pair_b"),
                  "h", F.col("r").alias("rb"))
    joined = a.join(b, ["h"]).filter(F.col("pair_a") < F.col("pair_b"))
    sums = (joined.groupBy("pair_a", "pair_b")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("ra").alias("sx"), F.sum("rb").alias("sy"),
                 F.sum(F.col("ra") * F.col("rb")).alias("sxy"),
                 F.sum(F.col("ra") * F.col("ra")).alias("sxx"),
                 F.sum(F.col("rb") * F.col("rb")).alias("syy"))
            .filter(F.col("n") >= 2))
    nd = F.col("n").cast("double")
    corr = F.round(
        (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / (F.sqrt(nd * F.col("sxx")
                  - F.col("sx").cast("double") * F.col("sx"))
           * F.sqrt(nd * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy"))), 6)
    return (sums.select("pair_a", "pair_b",
                        F.col("n").alias("n_hours"),
                        corr.alias("corr"))
            .orderBy("pair_a", "pair_b"))


@extra_query(
    "trades_max_drawdown",
    oracle=f"""
{_HOURLY_VWAP_CTE},
lr AS (
  SELECT currency_from, h,
         CAST(round(ln(vwap) * {LOGRET_FIX}) AS BIGINT) AS lfix
  FROM hourly),
dd AS (
  SELECT currency_from, h, lfix,
         max(lfix) OVER (PARTITION BY currency_from ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM lr)
SELECT currency_from,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(max(peak - lfix) AS BIGINT) AS max_drawdown_fix,
       round(1.0 - exp(-max(peak - lfix) / {LOGRET_FIX}.0), 6)
         AS max_drawdown_frac
FROM dd GROUP BY currency_from ORDER BY currency_from
""",
)
def trades_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per pair: the worst peak-to-trough decline of
    the hourly VWAP — the risk statistic next to volatility on any
    market dashboard.  In log space the drawdown is a running-max
    minus current (a window cummax over the integer lfix series, so
    the comparison chain is exact int64); the fractional form
    1 - exp(-dd) converts back at the very end.  Per-pair window over
    an hours-length series — bounded by the time range, not trade
    count."""
    hourly = (_hourly_vwap(events_as_trades(spark, sf_dir))
              .select("currency_from", "h",
                      F.round(F.log(F.col("_buy").cast("double")
                                    / F.col("_sell")) * LOGRET_FIX, 0)
                      .cast("long").alias("lfix")))
    w = (Window.partitionBy("currency_from").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, 0))
    dd = hourly.withColumn("peak", F.max("lfix").over(w))
    return (dd.groupBy("currency_from")
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.max(F.col("peak") - F.col("lfix"))
                 .alias("max_drawdown_fix"))
            .select("currency_from", "n_hours", "max_drawdown_fix",
                    F.round(1.0 - F.exp(-F.col("max_drawdown_fix")
                                        / F.lit(float(LOGRET_FIX))), 6)
                    .alias("max_drawdown_frac"))
            .orderBy("currency_from"))
