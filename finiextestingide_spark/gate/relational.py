"""Relational gate queries over the TPC-H-ish star schema.

These exercise the generic relational surface Spark gives us for free
(SURVEY §2.3 note: the reference has no generic joins — we get them from
Catalyst) plus the reporting-aggregation shapes of §2.4 (A5-A7, A10-A11)
re-expressed on the synthetic tables.

Determinism: all double sums go through DECIMAL(18,2)/(4,2) casts (the data
is 2-decimal money), making aggregation order irrelevant; see gate.__doc__.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ._util import Query, t

_D = "decimal(18,2)"
_CUTOFF = "2000-03-15 00:00:00"


def _dec(c: str, typ: str = _D) -> F.Column:
    return F.col(c).cast(typ)


# --- Q1-style pricing summary (reference report aggregators A5-A6 shape) ---


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.expr(f"TIMESTAMP_NTZ '{_CUTOFF}'")
    )
    disc = _dec("l_discount", "decimal(4,2)")
    tax = _dec("l_tax", "decimal(4,2)")
    price = _dec("l_extendedprice")
    disc_price = price * (F.lit(1).cast("decimal(2,0)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(2,0)") + tax)
    g = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("__sq"),
            F.sum(price).alias("__sb"),
            F.sum(disc_price).alias("__sd"),
            F.sum(charge).alias("__sc"),
            F.sum(disc).alias("__sdisc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    c = F.col("count_order")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("__sq").cast("double"), 6).alias("sum_qty"),
        F.round(F.col("__sb").cast("double"), 6).alias("sum_base_price"),
        F.round(F.col("__sd").cast("double"), 6).alias("sum_disc_price"),
        F.round(F.col("__sc").cast("double"), 6).alias("sum_charge"),
        F.round(F.col("__sq").cast("double") / c, 6).alias("avg_qty"),
        F.round(F.col("__sb").cast("double") / c, 6).alias("avg_price"),
        F.round(F.col("__sdisc").cast("double") / c, 6).alias("avg_disc"),
        "count_order",
    )


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6) AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE), 6) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style shipping priority (multi-join + deterministic top-k) ---


def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr(f"TIMESTAMP_NTZ '{_CUTOFF}'")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr(f"TIMESTAMP_NTZ '{_CUTOFF}'")
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(2,0)") - _dec("l_discount", "decimal(4,2)"))
    )
    g = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.alias("__rev"))
        .orderBy(F.desc("__rev"), F.asc("l_orderkey"))
        .limit(10)
    )
    return g.select(
        "l_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.round(F.col("__rev").cast("double"), 6).alias("revenue"),
    )


TOP_UNSHIPPED_ORDERS_SQL = f"""
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       round(CAST(rev AS DOUBLE), 6) AS revenue
FROM (
  SELECT l_orderkey, o_orderdate,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '{_CUTOFF}'
    AND l_shipdate > TIMESTAMP '{_CUTOFF}'
  GROUP BY l_orderkey, o_orderdate
  ORDER BY rev DESC, l_orderkey
  LIMIT 10
)
"""


# --- Q5-style local-supplier revenue (6-way join, broadcast dims) ---


def region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(2,0)") - _dec("l_discount", "decimal(4,2)"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(revenue.alias("__rev"), F.count(F.lit(1)).alias("line_count"))
        .select(
            "r_name",
            "n_name",
            F.round(F.col("__rev").cast("double"), 6).alias("revenue"),
            "line_count",
        )
    )


REGION_NATION_REVENUE_SQL = """
SELECT r_name, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- top-k per group (§2.6 O2/O3, §2.5 W14) ---


def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


TOPK_ORDERS_PER_PRIORITY_SQL = """
SELECT o_orderpriority, rank, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
)
WHERE rank <= 3
"""


# --- rollup / grouping sets (free in Spark; §2.4 note) ---


def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.sum(_dec("o_totalprice")).alias("__t"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.round(F.col("__t").cast("double"), 6).alias("total_price"),
            "n_orders",
        )
    )


ORDER_ROLLUP_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


# --- running equity / drawdown over a ledger-like stream (§2.5 W11) ---


def customer_equity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    equity = F.sum(_dec("o_totalprice")).over(w)
    df = orders.select(
        "o_custkey",
        "o_orderkey",
        equity.alias("__eq"),
        F.max(equity).over(w).alias("__peak"),
    )
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("__eq").cast("double"), 6).alias("equity"),
        F.round(F.col("__peak").cast("double"), 6).alias("peak_equity"),
        F.round((F.col("__peak") - F.col("__eq")).cast("double"), 6).alias("drawdown"),
    )


CUSTOMER_EQUITY_CURVE_SQL = """
SELECT o_custkey, o_orderkey,
       round(CAST(eq AS DOUBLE), 6) AS equity,
       round(CAST(peak AS DOUBLE), 6) AS peak_equity,
       round(CAST(peak - eq AS DOUBLE), 6) AS drawdown
FROM (
  SELECT o_custkey, o_orderkey, eq,
         max(eq) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM (
    SELECT o_custkey, o_orderkey, o_orderdate,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eq
    FROM orders
  )
)
"""


# --- OFAT parameter-sensitivity shape (§2.4 A11) ---


def priority_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(
        F.sum(_dec("o_totalprice")).alias("__t"), F.count(F.lit(1)).alias("n_runs")
    )
    mean = F.col("__t").cast("double") / F.col("n_runs")
    w = Window.partitionBy()
    df = g.select("o_orderpriority", F.round(mean, 6).alias("mean_objective"), "n_runs")
    return df.select(
        "*",
        F.round(
            F.max("mean_objective").over(w) - F.min("mean_objective").over(w), 6
        ).alias("influence"),
    )


PRIORITY_SENSITIVITY_SQL = """
SELECT o_orderpriority, mean_objective, n_runs,
       round(max(mean_objective) OVER () - min(mean_objective) OVER (), 6) AS influence
FROM (
  SELECT o_orderpriority,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS mean_objective,
         count(*) AS n_runs
  FROM orders
  GROUP BY o_orderpriority
)
"""


# --- portfolio-style roll-up with ratios recomputed from sums (§2.4 A6) ---


def nation_order_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    g = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).alias("__t"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("__nf"),
        F.max(_dec("o_totalprice")).alias("__mx"),
    )
    return g.select(
        "n_name",
        "n_orders",
        F.round(F.col("__t").cast("double"), 6).alias("total_price"),
        F.round(F.col("__t").cast("double") / F.col("n_orders"), 6).alias("avg_price"),
        F.round(F.col("__nf").cast("double") / F.col("n_orders"), 6).alias("fulfilled_rate"),
        F.round(F.col("__mx").cast("double"), 6).alias("max_price"),
    )


NATION_ORDER_KPIS_SQL = """
SELECT n_name,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_price,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS fulfilled_rate,
       round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS max_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --- weighted average (§2.4 A6: weighted-avg latency shape) ---


def weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_extendedprice") * _dec("l_quantity")).alias("__xw"),
        F.sum(_dec("l_quantity")).alias("__w"),
    )
    return g.select(
        "l_returnflag",
        F.round(F.col("__xw").cast("double") / F.col("__w").cast("double"), 6).alias(
            "weighted_avg_price"
        ),
    )


WEIGHTED_AVG_PRICE_SQL = """
SELECT l_returnflag,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS weighted_avg_price
FROM lineitem
GROUP BY l_returnflag
"""


# --- swap accrual (R6): overnight rollover fees, closed-form, no UDF ---
#     positions modeled from orders: open = o_orderdate, close = last
#     lineitem ship date; rate signed by orderkey parity; lots from totalprice.


def swap_accrual(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    from ..operators.swap import rollover_columns

    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.max("l_shipdate").alias("close_ts"))
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("open_ts"),
            "close_ts",
            # fixed-point: price in cents (exact), rate in tenths (25 = 2.5)
            (_dec("o_totalprice") * 100).cast("long").alias("price100"),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(25)).otherwise(F.lit(-13)).alias("rate10"),
        )
    )
    nights, triples = rollover_columns(F.col("open_ts"), F.col("close_ts"))
    out = pos.withColumn("nights", nights.cast("long")).withColumn("triple_rollovers", triples)
    # fee = rate * lots * rollover_units with lots = price/100000; computed as
    # an exact BIGINT at scale 1e-8, then ONE IEEE division — bit-identical in
    # any engine, no round() boundary cases (the exact values are multiples of
    # 1e-8, which sit ON 6-decimal half-way points).
    fee_e8 = F.col("rate10") * F.col("price100") * (F.col("nights") + 2 * F.col("triple_rollovers"))
    return out.select(
        "order_key",
        "open_ts",
        "close_ts",
        "nights",
        "triple_rollovers",
        (fee_e8 / F.lit(100000000.0)).alias("swap_fee"),
    )


SWAP_ACCRUAL_SQL = """
WITH pos AS (
  SELECT o_orderkey AS order_key, o_orderdate AS open_ts, max(l_shipdate) AS close_ts,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price100,
         CASE WHEN o_orderkey % 2 = 0 THEN 25 ELSE -13 END AS rate10
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_orderdate, o_totalprice
),
r AS (
  SELECT *,
         date_diff('day', open_ts, close_ts) AS nights,
         (3 - isodow(open_ts + INTERVAL 1 DAY) + 7) % 7 AS off
  FROM pos
),
c AS (
  SELECT *,
         CAST(CASE WHEN nights <= 0 THEN 0
                   WHEN nights - 1 >= off THEN (nights - 1 - off) // 7 + 1
                   ELSE 0 END AS BIGINT) AS triple_rollovers
  FROM r
)
SELECT order_key, open_ts, close_ts, CAST(nights AS BIGINT) AS nights, triple_rollovers,
       (rate10 * price100 * (nights + 2 * triple_rollovers)) / 100000000.0 AS swap_fee
FROM c
"""


# --- profiling aggregate (A8): exact interpolated percentiles + budget +
#     deterministic mode with explicit (count desc, bucket asc) tie-break ---


def profiling_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5)").alias("__p50"),
        F.expr("percentile(value, 0.95)").alias("__p95"),
    )
    buckets = ev.groupBy(
        "event_type", F.floor(F.col("value") / 100).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("bn"))
    wm = Window.partitionBy("event_type").orderBy(F.desc("bn"), F.asc("bucket"))
    mode = (
        buckets.withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"), F.col("bn").alias("mode_n"))
    )
    return pct.join(mode, "event_type").select(
        "event_type",
        "n",
        F.round("__p50", 6).alias("p50"),
        F.round("__p95", 6).alias("p95"),
        F.round(F.col("__p95") * 1.1, 6).alias("budget_suggestion"),
        "mode_bucket",
        "mode_n",
    )


PROFILING_PERCENTILES_SQL = """
WITH pct AS (
  SELECT event_type, count(*) AS n,
         quantile_cont(value, 0.5) AS p50x, quantile_cont(value, 0.95) AS p95x
  FROM events GROUP BY event_type
),
b AS (
  SELECT event_type, CAST(floor(value / 100) AS BIGINT) AS bucket, count(*) AS bn
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, bucket AS mode_bucket, bn AS mode_n,
         row_number() OVER (PARTITION BY event_type ORDER BY bn DESC, bucket ASC) AS rn
  FROM b
)
SELECT pct.event_type, pct.n, round(p50x, 6) AS p50, round(p95x, 6) AS p95,
       round(p95x * 1.1, 6) AS budget_suggestion, m.mode_bucket, m.mode_n
FROM pct JOIN m ON pct.event_type = m.event_type AND m.rn = 1
"""


def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 order<->execution pairing as a batch reconciliation audit
    (operators.reconcile): orders vs their lineitem executions, full-outer
    on the order key. Every class is exercised: the data has 257 orders
    with no lineitems (MISSING), dropping orders with key % 7 == 0 turns
    their lineitems into ORPHANs, and the net-amount identity splits the
    rest into MATCHED / UNDER / OVER deterministically (decimal-exact
    executed sum on both engines)."""
    from ..operators.reconcile import reconcile_orders

    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 != 0)
    execs = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).cast("decimal(28,6)").alias("__net"),
    )
    out = reconcile_orders(
        orders,
        execs,
        order_key="o_orderkey",
        expected=F.col("o_totalprice"),
        executed=F.sum("__net").cast("double"),
        tolerance=0.01,
    )
    return out.select(
        "o_orderkey",
        F.round("expected_amount", 6).alias("expected_amount"),
        F.round("executed_amount", 6).alias("executed_amount"),
        F.col("n_executions").cast("long").alias("n_executions"),
        "status",
    )


ORDER_RECONCILIATION_SQL = """
WITH o AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
e AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(28,6))) AS DOUBLE) AS executed_amount,
         count(*) AS n_executions
  FROM lineitem GROUP BY 1
)
SELECT coalesce(o.o_orderkey, e.o_orderkey) AS o_orderkey,
       round(o.o_totalprice, 6) AS expected_amount,
       round(e.executed_amount, 6) AS executed_amount,
       CAST(coalesce(e.n_executions, 0) AS BIGINT) AS n_executions,
       CASE WHEN o.o_orderkey IS NULL THEN 'ORPHAN'
            WHEN e.o_orderkey IS NULL THEN 'MISSING'
            WHEN abs(e.executed_amount - o.o_totalprice) <= 0.01 THEN 'MATCHED'
            WHEN e.executed_amount < o.o_totalprice THEN 'UNDER_EXECUTED'
            ELSE 'OVER_EXECUTED' END AS status
FROM o FULL OUTER JOIN e ON o.o_orderkey = e.o_orderkey
"""


def streaming_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 LIVE (round-8 item 4): order<->execution pairing as a CONTINUOUS
    stateful stream (streaming.reconcile_stream) — two unbounded feeds
    (orders, lineitem fills) union into one keyed pairing state, every
    state change emits a revision, and the latest revision per key is the
    verdict. Once both feeds drain, that snapshot must hash-match the
    batch reconcile_orders classification — same oracle SQL as the batch
    gate. Exactness holds because the executed total accumulates as
    decimal in state (arrival-order independent)."""
    from ..streaming.bars_stream import run_to_memory
    from ..streaming.reconcile_stream import latest_revisions, reconcile_stream

    o_schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    l_schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    orders = (
        spark.readStream.schema(o_schema)
        .parquet(f"{sf_dir}/orders.parque*")
        .where(F.col("o_orderkey") % 7 != 0)
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    execs = (
        spark.readStream.schema(l_schema)
        .parquet(f"{sf_dir}/lineitem.parque*")
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(28,6)").alias("qty"),
        )
    )
    rev = reconcile_stream(
        orders, execs, order_key="o_orderkey",
        expected="expected_amount", qty="qty", tolerance=0.01,
    )
    name = "gate_streaming_reconciliation"
    run_to_memory(rev, name)
    out = latest_revisions(spark.table(name), "o_orderkey")
    return out.select(
        "o_orderkey",
        F.round("expected_amount", 6).alias("expected_amount"),
        F.round("executed_amount", 6).alias("executed_amount"),
        F.col("n_executions").cast("long").alias("n_executions"),
        "status",
    )


STREAMING_RECONCILIATION_SQL = ORDER_RECONCILIATION_SQL


def streaming_reconcile_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 live, TAIL SHAPE (round-10 item 4) — the designated backfill
    protocol end-to-end: bulk history goes through ``bootstrap_state``
    (one JVM decimal aggregation + full-outer join, batch speed), the
    snapshot seeds the stream via the create-only ledger, and the stream
    itself processes ONLY the tail slice (10%% of fills by key, plus the
    late orders on %%5 keys — so seeded ORPHANs reclassify across the
    cut). The latest revision per key must hash-match the batch
    classification of the FULL ledger — the same oracle as the bulk-drive
    gate, proving the two drive shapes are interchangeable. This gate is
    the VERIFICATION artifact for the seed protocol at full-history scope;
    its wall is the linear per-key seed fold (~80 us x every history key —
    SF1.md measured ~9x wall for 10x keys), which is exactly why bench.py
    times the designated shapes instead: ``streaming_reconcile_restart``
    (bounded open-book seed) and ``merged_reconcile_view`` (ledger-wide
    sink-merge)."""
    import shutil
    import tempfile

    from ..streaming.bars_stream import run_to_memory
    from ..streaming.reconcile_stream import (
        bootstrap_state,
        latest_revisions,
        reconcile_stream,
    )

    qty_expr = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(28,6)")

    # batch history ledgers: orders not on %5 (those arrive late, in the
    # tail), fills not on the %10==3 key slice
    o_hist = (
        t(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 != 0))
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    e_hist = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 != 3)
        .select(F.col("l_orderkey").alias("o_orderkey"), qty_expr.alias("qty"))
    )
    snap = bootstrap_state(
        o_hist, e_hist, order_key="o_orderkey",
        expected="expected_amount", qty="qty",
    )

    o_schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    l_schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    orders_tail = (
        spark.readStream.schema(o_schema)
        .parquet(f"{sf_dir}/orders.parque*")
        .where((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 == 0))
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    execs_tail = (
        spark.readStream.schema(l_schema)
        .parquet(f"{sf_dir}/lineitem.parque*")
        .where(F.col("l_orderkey") % 10 == 3)
        .select(F.col("l_orderkey").alias("o_orderkey"), qty_expr.alias("qty"))
    )
    ledger = tempfile.mkdtemp(prefix="recon_tail_")
    try:
        rev = reconcile_stream(
            orders_tail, execs_tail, order_key="o_orderkey",
            expected="expected_amount", qty="qty", tolerance=0.01,
            bootstrap=snap, bootstrap_dir=ledger,
        )
        name = "gate_streaming_reconcile_tail"
        run_to_memory(rev, name)
    finally:
        # the drained memory table no longer reads the seed ledger
        shutil.rmtree(ledger, ignore_errors=True)
    out = latest_revisions(spark.table(name), "o_orderkey")
    return out.select(
        "o_orderkey",
        F.round("expected_amount", 6).alias("expected_amount"),
        F.round("executed_amount", 6).alias("executed_amount"),
        F.col("n_executions").cast("long").alias("n_executions"),
        "status",
    )


STREAMING_RECONCILE_TAIL_SQL = ORDER_RECONCILIATION_SQL


def streaming_reconcile_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 live, DESIGN-REGIME RESTART (VERDICT r10 #1): what a real
    operator's restart actually pays — seed a BOUNDED open-order book
    (the keys still in flight at the cut, here the %%29 slice: ~3.4%% of
    the ledger), stream only those keys' remaining fills, and read the
    book's verdicts. This is the shape bench.py times for the backfill
    protocol: per-key seed cost applies to the OPEN book, not all of
    history — the full-ledger audit scope has its own designated shape
    (``merged_reconcile_view``, gated separately), and the full-history
    seed drive remains the verification artifact
    (``streaming_reconcile_tail``).

    Cut model: open keys' ORDERS are already in history (placed before
    the restart), half their fills (even l_linenumber) landed before the
    cut, the odd half arrives in the tail. Every open key's final state
    is therefore history+tail == the full ledger for that key, so the
    oracle is the batch classification restricted to the open-book
    slice."""
    import shutil
    import tempfile

    from ..streaming.bars_stream import run_to_memory
    from ..streaming.reconcile_stream import (
        bootstrap_state,
        latest_revisions,
        reconcile_stream,
    )

    qty_expr = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(28,6)")

    # the open book's history: its orders (standard %7 orphan carve-out)
    # and its even-linenumber fills — the snapshot inputs are pre-filtered
    # to the book slice (equivalent to filtering the snapshot, and it
    # pushes the book predicate into the parquet scan)
    o_hist = (
        t(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 29 == 0) & (F.col("o_orderkey") % 7 != 0))
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    e_hist = (
        t(spark, sf_dir, "lineitem")
        .where((F.col("l_orderkey") % 29 == 0) & (F.col("l_linenumber") % 2 == 0))
        .select(F.col("l_orderkey").alias("o_orderkey"), qty_expr.alias("qty"))
    )
    open_book = bootstrap_state(
        o_hist, e_hist, order_key="o_orderkey",
        expected="expected_amount", qty="qty",
    )

    l_schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    orders_tail = (
        spark.readStream.schema(spark.read.parquet(f"{sf_dir}/orders.parquet").schema)
        .parquet(f"{sf_dir}/orders.parque*")
        .where(F.col("o_orderkey") % 29 == 0)
        .where(F.lit(False))  # no late orders in this cut model
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    execs_tail = (
        spark.readStream.schema(l_schema)
        .parquet(f"{sf_dir}/lineitem.parque*")
        .where((F.col("l_orderkey") % 29 == 0) & (F.col("l_linenumber") % 2 == 1))
        .select(F.col("l_orderkey").alias("o_orderkey"), qty_expr.alias("qty"))
    )
    ledger = tempfile.mkdtemp(prefix="recon_rs_")
    try:
        rev = reconcile_stream(
            orders_tail, execs_tail, order_key="o_orderkey",
            expected="expected_amount", qty="qty", tolerance=0.01,
            bootstrap=open_book, bootstrap_dir=ledger,
        )
        name = "gate_streaming_reconcile_restart"
        run_to_memory(rev, name)
    finally:
        # the drained memory table no longer reads the seed ledger
        shutil.rmtree(ledger, ignore_errors=True)
    out = latest_revisions(spark.table(name), "o_orderkey")
    return out.select(
        "o_orderkey",
        F.round("expected_amount", 6).alias("expected_amount"),
        F.round("executed_amount", 6).alias("executed_amount"),
        F.col("n_executions").cast("long").alias("n_executions"),
        "status",
    )


STREAMING_RECONCILE_RESTART_SQL = """
WITH o AS (
  SELECT o_orderkey, max(o_totalprice) AS expected
  FROM orders WHERE o_orderkey % 29 = 0 AND o_orderkey % 7 <> 0
  GROUP BY 1
),
e AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(28,6))) AS DOUBLE) AS executed,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem WHERE l_orderkey % 29 = 0
  GROUP BY 1
)
SELECT COALESCE(o.o_orderkey, e.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NOT NULL THEN round(o.expected, 6) END
         AS expected_amount,
       CASE WHEN e.o_orderkey IS NOT NULL THEN round(e.executed, 6) END
         AS executed_amount,
       COALESCE(e.n, 0) AS n_executions,
       CASE WHEN o.o_orderkey IS NULL THEN 'ORPHAN'
            WHEN e.o_orderkey IS NULL THEN 'MISSING'
            WHEN abs(e.executed - o.expected) <= 0.01 THEN 'MATCHED'
            WHEN e.executed < o.expected THEN 'UNDER_EXECUTED'
            ELSE 'OVER_EXECUTED' END AS status
FROM o FULL OUTER JOIN e ON o.o_orderkey = e.o_orderkey
"""


def merged_reconcile_view_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 SINK-MERGE (VERDICT r10 #3): the designated LEDGER-WIDE backfill
    shape — history never enters the state machinery. The batch
    ``bootstrap_state`` snapshot covers history at join speed; the stream
    processes ONLY the tail slice with FRESH state; the two merge
    commutatively at read time and must equal the batch classification of
    the full ledger (same slices as ``streaming_reconcile_tail``, proving
    the two backfill shapes interchangeable at this scope — the seed-union
    drive pays ~80 us/key on every seeded key, this view pays one
    full-outer join). Fidelity: the merge adds the tail's double to the
    snapshot's decimal-cast-double (documented in the operator); the
    oracle mirrors that split-sum arithmetic."""
    from ..streaming.bars_stream import run_to_memory
    from ..streaming.reconcile_stream import (
        bootstrap_state,
        merged_reconcile_view,
        reconcile_stream,
    )

    qty_expr = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(28,6)")

    o_hist = (
        t(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 != 0))
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    e_hist = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 != 3)
        .select(F.col("l_orderkey").alias("o_orderkey"), qty_expr.alias("qty"))
    )
    snap = bootstrap_state(
        o_hist, e_hist, order_key="o_orderkey",
        expected="expected_amount", qty="qty",
    )

    o_schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    l_schema = spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema
    orders_tail = (
        spark.readStream.schema(o_schema)
        .parquet(f"{sf_dir}/orders.parque*")
        .where((F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 5 == 0))
        .select("o_orderkey", F.col("o_totalprice").alias("expected_amount"))
    )
    execs_tail = (
        spark.readStream.schema(l_schema)
        .parquet(f"{sf_dir}/lineitem.parque*")
        .where(F.col("l_orderkey") % 10 == 3)
        .select(F.col("l_orderkey").alias("o_orderkey"), qty_expr.alias("qty"))
    )
    # FRESH-state tail: no bootstrap — history stays out of the state
    # machinery entirely; that is the point of the sink-merge shape
    rev = reconcile_stream(
        orders_tail, execs_tail, order_key="o_orderkey",
        expected="expected_amount", qty="qty", tolerance=0.01,
    )
    name = "gate_merged_reconcile_view"
    run_to_memory(rev, name)
    out = merged_reconcile_view(
        snap, spark.table(name), order_key="o_orderkey", tolerance=0.01
    )
    return out.select(
        "o_orderkey",
        F.round("expected_amount", 6).alias("expected_amount"),
        F.round("executed_amount", 6).alias("executed_amount"),
        F.col("n_executions").cast("long").alias("n_executions"),
        "status",
    )


MERGED_RECONCILE_VIEW_SQL = """
WITH hist_o AS (
  SELECT o_orderkey, max(o_totalprice) AS expected
  FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
  GROUP BY 1
),
hist_e AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(28,6))) AS DOUBLE) AS executed,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem WHERE l_orderkey % 10 <> 3
  GROUP BY 1
),
hist AS (
  SELECT COALESCE(o.o_orderkey, e.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS has_order,
         o.expected,
         COALESCE(e.executed, 0.0) AS executed,
         COALESCE(e.n, 0) AS n
  FROM hist_o o FULL OUTER JOIN hist_e e ON o.o_orderkey = e.o_orderkey
),
tail_o AS (
  SELECT o_orderkey, max(o_totalprice) AS expected
  FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
  GROUP BY 1
),
tail_e AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(28,6))) AS DOUBLE) AS executed,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem WHERE l_orderkey % 10 = 3
  GROUP BY 1
),
tail AS (
  SELECT COALESCE(o.o_orderkey, e.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS has_order,
         o.expected,
         COALESCE(e.executed, 0.0) AS executed,
         COALESCE(e.n, 0) AS n
  FROM tail_o o FULL OUTER JOIN tail_e e ON o.o_orderkey = e.o_orderkey
),
m AS (
  SELECT COALESCE(h.o_orderkey, t.o_orderkey) AS o_orderkey,
         (COALESCE(h.has_order, 0) + COALESCE(t.has_order, 0)) > 0 AS has_order,
         COALESCE(t.expected, h.expected) AS expected,
         COALESCE(h.executed, 0.0) + COALESCE(t.executed, 0.0) AS executed,
         COALESCE(h.n, 0) + COALESCE(t.n, 0) AS n
  FROM hist h FULL OUTER JOIN tail t ON h.o_orderkey = t.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN has_order THEN round(expected, 6) END AS expected_amount,
       CASE WHEN n > 0 THEN round(executed, 6) END AS executed_amount,
       CAST(n AS BIGINT) AS n_executions,
       CASE WHEN NOT has_order THEN 'ORPHAN'
            WHEN n = 0 THEN 'MISSING'
            WHEN abs(executed - expected) <= 0.01 THEN 'MATCHED'
            WHEN executed < expected THEN 'UNDER_EXECUTED'
            ELSE 'OVER_EXECUTED' END AS status
FROM m
"""


def drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 economics (round-9 item 4; reference DriftAuditor #327): for
    PAIRED fills, compare locally-computed fee/volume/price against
    broker-reported truth and emit drift events above relative thresholds.
    Broker truth is derived from lineitem; the 'local' ledger recomputes
    the same economics with deterministic drift injected into keyed row
    slices (fee +0.02 on l_orderkey%%37, volume +0.5 on %%41, price *1.01 on
    %%43), so every drift class appears and threshold crossing is
    data-dependent (a +0.02 fee drift only exceeds 1%% on small fees).
    Oracle: DuckDB mirrors the ledgers, the unpivot, and the
    relative-delta threshold logic. All rounding is floor(x*10^n + 0.5)
    form — Spark's round() (HALF_UP on the decimal repr) and DuckDB's
    disagree on ~1e-3 of doubles at grid boundaries; floor on identical
    IEEE doubles cannot."""
    from ..operators.drift import drift_events

    def _r(col, n):  # deterministic cross-engine half-up rounding
        return F.floor(col * F.lit(float(10**n)) + 0.5) / F.lit(float(10**n))

    # one execution per (orderkey, linenumber): the synthetic lineitem is
    # NOT unique on that pair, and drift pairing needs a unique fill key —
    # aggregate with DECIMAL sums (order-independent, exact) per the
    # registry's determinism policy
    base = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_orderkey", F.col("l_linenumber").cast("long").alias("l_linenumber")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,6)"))
            .cast("double").alias("qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
            .cast("double").alias("ext"),
        )
    )
    broker = base.select(
        "l_orderkey",
        "l_linenumber",
        F.col("qty").alias("volume"),
        _r(F.col("ext") / F.col("qty"), 4).alias("price"),
        _r(F.col("ext") * 0.00025, 2).alias("fee"),
    )
    local = broker.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("volume")
            + F.when(F.col("l_orderkey") % 41 == 0, 0.5).otherwise(0.0)
        ).alias("volume"),
        (
            F.col("price")
            * F.when(F.col("l_orderkey") % 43 == 0, 1.01).otherwise(1.0)
        ).alias("price"),
        (
            F.col("fee")
            + F.when(F.col("l_orderkey") % 37 == 0, 0.02).otherwise(0.0)
        ).alias("fee"),
    )
    ev = drift_events(
        local,
        broker,
        keys=["l_orderkey", "l_linenumber"],
        metrics=[
            ("fee", "fee", "fee", 1.0),
            ("volume", "volume", "volume", 0.5),
            ("price", "price", "price", 0.5),
        ],
    )
    return ev.select(
        "l_orderkey",
        "l_linenumber",
        "drift_type",
        _r(F.col("local_value"), 6).alias("local_value"),
        _r(F.col("broker_value"), 6).alias("broker_value"),
        _r(F.col("relative_delta_pct"), 6).alias("relative_delta_pct"),
        "threshold_pct",
    )


DRIFT_AUDIT_SQL = """
WITH base AS (
  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS ext
  FROM lineitem
  GROUP BY 1, 2
),
b AS (
  SELECT l_orderkey, l_linenumber,
         qty AS volume,
         floor(ext / qty * 10000.0 + 0.5) / 10000.0 AS price,
         floor(ext * 0.00025 * 100.0 + 0.5) / 100.0 AS fee
  FROM base
),
l AS (
  SELECT l_orderkey, l_linenumber,
         volume + CASE WHEN l_orderkey % 41 = 0 THEN 0.5 ELSE 0.0 END AS volume,
         price * CASE WHEN l_orderkey % 43 = 0 THEN 1.01 ELSE 1.0 END AS price,
         fee + CASE WHEN l_orderkey % 37 = 0 THEN 0.02 ELSE 0.0 END AS fee
  FROM b
),
ev AS (
  SELECT l.l_orderkey, l.l_linenumber, m.drift_type,
         CASE m.drift_type WHEN 'fee' THEN l.fee
              WHEN 'volume' THEN l.volume ELSE l.price END AS lv,
         CASE m.drift_type WHEN 'fee' THEN b.fee
              WHEN 'volume' THEN b.volume ELSE b.price END AS bv,
         CASE m.drift_type WHEN 'fee' THEN 1.0
              WHEN 'volume' THEN 0.5 ELSE 0.5 END AS thr
  FROM l
  JOIN b USING (l_orderkey, l_linenumber),
       (SELECT unnest(['fee', 'volume', 'price']) AS drift_type) m
)
SELECT l_orderkey, l_linenumber, drift_type,
       floor(lv * 1000000.0 + 0.5) / 1000000.0 AS local_value,
       floor(bv * 1000000.0 + 0.5) / 1000000.0 AS broker_value,
       floor(100 * abs(lv - bv) / abs(bv) * 1000000.0 + 0.5) / 1000000.0
         AS relative_delta_pct,
       thr AS threshold_pct
FROM ev
WHERE CASE WHEN bv <> 0 THEN 100 * abs(lv - bv) / abs(bv) > thr
           ELSE lv <> 0 END
"""


def reconcile_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#151 Reconciler shape (reconciler.py:19-21): local shadow state vs
    broker truth as a keyed full-outer diff with the ghost/orphan/stale
    vocabulary. Both state tables derive from orders deterministically;
    divergences are injected by keyed slices — local lacks %%11 keys
    (ghost), broker lacks %%13 keys (orphan), broker price perturbed *1.005
    on %%17 and lots +0.05 on %%19 (stale, per-field rows, 0.1%% relative
    tolerance with the broker value as denominator), local price NULLed on
    %%23 and broker lots NULLed on %%29 (missing_field — ADVICE r9: a
    one-sided NULL must surface as divergence, not silently pass). Floor-
    form rounding on outputs; the threshold compares UNROUNDED values."""
    from ..operators.drift import state_diff

    def _r(col, n):
        return F.floor(col * F.lit(float(10**n)) + 0.5) / F.lit(float(10**n))

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        (((F.col("o_orderkey") % 97) + 1) / 10.0).alias("lots"),
    )
    local = base.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 23 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("price"))
        .alias("price"),
        "lots",
    )
    broker = base.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        (
            F.col("price")
            * F.when(F.col("o_orderkey") % 17 == 0, 1.005).otherwise(1.0)
        ).alias("price"),
        F.when(F.col("o_orderkey") % 29 == 0, F.lit(None).cast("double"))
        .otherwise(
            F.col("lots")
            + F.when(F.col("o_orderkey") % 19 == 0, 0.05).otherwise(0.0)
        )
        .alias("lots"),
    )
    out = state_diff(
        local,
        broker,
        key="o_orderkey",
        fields=[("price", "price", "price"), ("lots", "lots", "lots")],
        stale_tolerance_pct=0.1,
    )
    return out.select(
        "o_orderkey",
        "divergence",
        "field",
        _r(F.col("local_value"), 6).alias("local_value"),
        _r(F.col("broker_value"), 6).alias("broker_value"),
        _r(F.col("relative_delta_pct"), 6).alias("relative_delta_pct"),
    )


RECONCILE_STATE_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
         ((o_orderkey % 97) + 1) / 10.0 AS lots
  FROM orders
),
l AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 23 = 0 THEN NULL ELSE price END AS price,
         lots
  FROM base WHERE o_orderkey % 11 <> 0
),
b AS (
  SELECT o_orderkey,
         price * CASE WHEN o_orderkey % 17 = 0 THEN 1.005 ELSE 1.0 END AS price,
         CASE WHEN o_orderkey % 29 = 0 THEN NULL
              ELSE lots + CASE WHEN o_orderkey % 19 = 0 THEN 0.05 ELSE 0.0 END
         END AS lots
  FROM base WHERE o_orderkey % 13 <> 0
),
matched AS (
  SELECT l.o_orderkey, m.field,
         CASE m.field WHEN 'price' THEN l.price ELSE l.lots END AS lv,
         CASE m.field WHEN 'price' THEN b.price ELSE b.lots END AS bv
  FROM l JOIN b USING (o_orderkey),
       (SELECT unnest(['price', 'lots']) AS field) m
)
SELECT o_orderkey, 'stale' AS divergence, field,
       floor(lv * 1000000.0 + 0.5) / 1000000.0 AS local_value,
       floor(bv * 1000000.0 + 0.5) / 1000000.0 AS broker_value,
       floor(100 * abs(lv - bv) / GREATEST(abs(bv), 1e-12) * 1000000.0 + 0.5)
         / 1000000.0 AS relative_delta_pct
FROM matched
WHERE 100 * abs(lv - bv) / GREATEST(abs(bv), 1e-12) > 0.1
UNION ALL
SELECT o_orderkey, 'missing_field', field,
       floor(lv * 1000000.0 + 0.5) / 1000000.0,
       floor(bv * 1000000.0 + 0.5) / 1000000.0,
       NULL
FROM matched
WHERE (lv IS NULL) <> (bv IS NULL)
UNION ALL
SELECT b.o_orderkey, 'ghost', NULL, NULL, NULL, NULL
FROM b WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.o_orderkey = b.o_orderkey)
UNION ALL
SELECT l.o_orderkey, 'orphan', NULL, NULL, NULL, NULL
FROM l WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.o_orderkey = l.o_orderkey)
"""


QUERIES: dict[str, Query] = {
    "pricing_summary": Query(pricing_summary, PRICING_SUMMARY_SQL, "TPC-H Q1 shape; A5/A6 aggregations"),
    "top_unshipped_orders": Query(top_unshipped_orders, TOP_UNSHIPPED_ORDERS_SQL, "Q3 shape; deterministic top-k"),
    "region_nation_revenue": Query(region_nation_revenue, REGION_NATION_REVENUE_SQL, "Q5 shape; broadcast dims (J5)"),
    "topk_orders_per_priority": Query(topk_orders_per_priority, TOPK_ORDERS_PER_PRIORITY_SQL, "W14/O2 top-k per group"),
    "order_rollup": Query(order_rollup, ORDER_ROLLUP_SQL, "rollup/grouping sets"),
    "customer_equity_curve": Query(customer_equity_curve, CUSTOMER_EQUITY_CURVE_SQL, "W11 running equity/drawdown"),
    "priority_sensitivity": Query(priority_sensitivity, PRIORITY_SENSITIVITY_SQL, "A11 OFAT sensitivity"),
    "nation_order_kpis": Query(nation_order_kpis, NATION_ORDER_KPIS_SQL, "A6 ratios-from-sums roll-up"),
    "weighted_avg_price": Query(weighted_avg_price, WEIGHTED_AVG_PRICE_SQL, "A6 weighted average"),
    "swap_accrual": Query(swap_accrual, SWAP_ACCRUAL_SQL, "R6 overnight swap rollovers"),
    "profiling_percentiles": Query(
        profiling_percentiles, PROFILING_PERCENTILES_SQL, "A8 percentiles + deterministic mode"
    ),
    "streaming_reconciliation": Query(
        streaming_reconciliation,
        STREAMING_RECONCILIATION_SQL,
        "J6 live: continuous stateful order<->execution pairing, batch-oracle hash",
    ),
    "streaming_reconcile_tail": Query(
        streaming_reconcile_tail,
        STREAMING_RECONCILE_TAIL_SQL,
        "J6 backfill protocol: bootstrap_state snapshot + streamed tail, batch-oracle hash",
    ),
    "streaming_reconcile_restart": Query(
        streaming_reconcile_restart,
        STREAMING_RECONCILE_RESTART_SQL,
        "J6 design-regime restart: bounded open-book seed + tail (the benched shape)",
    ),
    "merged_reconcile_view": Query(
        merged_reconcile_view_gate,
        MERGED_RECONCILE_VIEW_SQL,
        "J6 sink-merge: fresh-state tail + batch snapshot merged at read time",
    ),
    "order_reconciliation": Query(
        order_reconciliation, ORDER_RECONCILIATION_SQL, "J6 order<->execution reconciliation audit"
    ),
    "drift_audit": Query(
        drift_audit,
        DRIFT_AUDIT_SQL,
        "J6 economics: local vs broker-truth fee/volume/price drift events",
    ),
    "reconcile_state_diff": Query(
        reconcile_state_diff,
        RECONCILE_STATE_DIFF_SQL,
        "#151 shadow-state vs broker-truth diff: ghost/orphan/stale events",
    ),
}
