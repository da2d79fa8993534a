"""Tabular (long-format) analytic queries over the star schema.

This is the engine's "long-format bridge" surface (SURVEY.md §2.2/§7.7):
the reference (google/xarray-beam) has no relational operators, so joins /
windows / sorts / set-ops come directly from Spark SQL. Each query here is
registered with an equivalent DuckDB oracle SQL for the correctness gate.

Determinism convention: floating-point SUM/AVG is order-dependent, and the
oracle comparison hashes values. Every float aggregate therefore accumulates
as DECIMAL(18,4) (exact, order-independent) and is cast back to DOUBLE at
the end — a single correctly-rounded conversion that is bit-identical in
Spark and DuckDB. Helper: :func:`dsum`.

Scale notes (100 TB design): all dim tables are broadcast (see
``tables.BROADCAST_TABLES``); fact-fact joins shuffle on their join key and
rely on AQE for skew; aggregates are partial (map-side) by construction
since we use built-in ``sum``/``count`` — no Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xarray_beam_spark.registry import registrar
from xarray_beam_spark.tables import load

# name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
register = registrar(REGISTRY)


# The synthetic data's numeric columns are exact low-scale decimals
# (money: 2dp, rates: 2dp, quantity: 1dp, events.value: 6dp). Casting the
# *source column* to a decimal of matching scale is exact (no rounding, so
# no HALF_UP-vs-half-even tie divergence between Spark and DuckDB); all
# arithmetic then stays in exact decimal and the final cast to double is a
# single correctly-rounded conversion, identical in both engines.
# NEVER cast a *computed double* to decimal — fp ties round differently.

_SCALES = {
    "l_extendedprice": "decimal(18,2)",
    "l_discount": "decimal(4,2)",
    "l_tax": "decimal(4,2)",
    "l_quantity": "decimal(18,1)",
    "o_totalprice": "decimal(18,2)",
    "c_acctbal": "decimal(18,2)",
    "s_acctbal": "decimal(18,2)",
    "p_retailprice": "decimal(18,2)",
    "value": "decimal(18,6)",
}


def dec(col: str) -> Column:
    """Column quantized to its exact decimal type."""
    return F.col(col).cast(_SCALES[col])


def sql_dec(col: str) -> str:
    return f"CAST({col} AS {_SCALES[col].upper()})"


def dsum(col: Column | str) -> Column:
    """Order-independent sum: exact decimal accumulation → double."""
    c = dec(col) if isinstance(col, str) else col
    return F.sum(c).cast("double")


def sql_dsum(expr: str) -> str:
    """SQL mirror of dsum; ``expr`` must already be exact-decimal-typed."""
    if expr in _SCALES:
        expr = sql_dec(expr)
    return f"CAST(SUM({expr}) AS DOUBLE)"


# Exact-decimal row expressions shared across queries.
_ONE = "CAST(1 AS DECIMAL(3,2))"
SQL_DISC_PRICE = f"{sql_dec('l_extendedprice')} * ({_ONE} - {sql_dec('l_discount')})"
SQL_CHARGE = f"{SQL_DISC_PRICE} * ({_ONE} + {sql_dec('l_tax')})"


def disc_price() -> Column:
    one = F.lit(1).cast("decimal(3,2)")
    return dec("l_extendedprice") * (one - dec("l_discount"))


def charge() -> Column:
    one = F.lit(1).cast("decimal(3,2)")
    return disc_price() * (one + dec("l_tax"))


SQL_REV = f"{sql_dec('l_extendedprice')} * {sql_dec('l_discount')}"


def rev_expr() -> Column:
    return dec("l_extendedprice") * dec("l_discount")


# ---------------------------------------------------------------------------
# Q1 — pricing summary (flagship). TPC-H Q1 shape on the synthetic lineitem.
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum(SQL_DISC_PRICE)} AS sum_disc_price,
       {sql_dsum(SQL_CHARGE)} AS sum_charge,
       {sql_dsum('l_quantity')} / COUNT(*) AS avg_qty,
       {sql_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
       {sql_dsum('l_discount')} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price()).alias("sum_disc_price"),
            dsum(charge()).alias("sum_charge"),
            (dsum("l_quantity") / n).alias("avg_qty"),
            (dsum("l_extendedprice") / n).alias("avg_price"),
            (dsum("l_discount") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join, top-10 by revenue (total order).
# ---------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT l_orderkey,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(disc_price()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way join through region.
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT n_name, {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", _Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(disc_price()).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q6 — revenue-change: pure scan + filter + global agg (pushdown showcase).
# ---------------------------------------------------------------------------

_Q6_ORACLE = f"""
SELECT {sql_dsum(SQL_REV)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@register("q6_revenue_change", _Q6_ORACLE)
def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(rev_expr()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q10 — returned items by customer: join + group + top-20 (total order).
# ---------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(disc_price()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Part revenue top-k: broadcast-join + top-k pattern.
# ---------------------------------------------------------------------------

_TOPK_PARTS_ORACLE = f"""
SELECT p_partkey, p_name, p_brand,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name, p_brand
ORDER BY revenue DESC, p_partkey
LIMIT 15
"""


@register("topk_parts_by_revenue", _TOPK_PARTS_ORACLE)
def topk_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(
            dsum(disc_price()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Window functions over the events stream table: per-user running totals.
# ---------------------------------------------------------------------------

_EVENTS_WINDOW_ORACLE = """
SELECT event_id, user_id, event_type,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
       CAST(SUM(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value
FROM events
"""


@register("events_running_totals", _EVENTS_WINDOW_ORACLE)
def events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.row_number().over(w).alias("seq"),
        F.sum(dec("value")).over(wsum).cast("double").alias("running_value"),
    )


# ---------------------------------------------------------------------------
# Sessionized daily rollup on events: time-bucketed aggregation.
# ---------------------------------------------------------------------------

_EVENTS_DAILY_ORACLE = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
"""


@register("events_daily_rollup", _EVENTS_DAILY_ORACLE)
def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking: EXISTS semi-join.
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


@register("q4_order_priority", _Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: left-semi join pushes the EXISTS into one shuffle;
    at scale the orders-side filter prunes partitions before the join."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    sat = o.join(
        l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "leftsemi"
    )
    return sat.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations (supp_nation x cust_nation).
# ---------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(date_part('year', l_shipdate) AS BIGINT) AS l_year,
       {sql_dsum(SQL_DISC_PRICE)} AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_10')
    OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_9'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


@register("q7_volume_shipping", _Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(dsum(disc_price()).alias("revenue"))


# ---------------------------------------------------------------------------
# Q8 — national market share: conditional aggregation ratio.
# ---------------------------------------------------------------------------

_Q8_ORACLE = f"""
SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN {SQL_DISC_PRICE}
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


@register("q8_market_share", _Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey"))
    n2 = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    vol = disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q14 — promotion effect: conditional aggregation over a broadcast join.
# ---------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT CAST(100.0 AS DOUBLE)
         * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {SQL_DISC_PRICE}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM({SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""


@register("q14_promo_effect", _Q14_ORACLE)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    vol = disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: per-part average subquery.
# ---------------------------------------------------------------------------

_Q17_ORACLE = f"""
WITH avg_qty AS (
  SELECT l_partkey AS a_partkey,
         {sql_dsum('l_quantity')} / COUNT(*) AS part_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM({sql_dec('l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty ON l_partkey = a_partkey
WHERE p_brand = 'Brand#13' AND l_quantity < 0.5 * part_avg
"""


@register("q17_small_quantity", _Q17_ORACLE)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-average subquery as a self-aggregation + equi-join; the
    per-part average is tiny (one row per part) so Catalyst broadcasts it."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    # per-part averages are only consumed for Brand#13 partkeys (the
    # broadcast equi-join below drops every other part AFTER the agg
    # shuffle) — semi-join the fact side down to those parts first, the
    # kept parts' row sets and averages are untouched
    l_brand = l.join(
        F.broadcast(p.select("p_partkey")),
        l.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    avg_q = l_brand.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (dsum("l_quantity") / F.count(F.lit(1))).alias("part_avg")
    )
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(avg_q), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg"))
    )
    return j.agg(
        (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers: HAVING over a grouped fact table.
# ---------------------------------------------------------------------------

_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey AS b_orderkey, {sql_dsum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum('l_quantity')} > 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
FROM big
JOIN orders ON b_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


@register("q18_large_volume", _Q18_ORACLE)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        l.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, F.col("b_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue: disjunctive multi-range predicates.
# ---------------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT {sql_dsum(SQL_DISC_PRICE)} AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#9' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


@register("q19_discounted_revenue", _Q19_ORACLE)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#20") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#9") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.filter(cond).agg(
        dsum(disc_price()).alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


# ---------------------------------------------------------------------------
# Set operation: customers active in 1996 but not in 1997 (EXCEPT).
# ---------------------------------------------------------------------------

_EXCEPT_ORACLE = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
"""


@register("churned_customers_except", _EXCEPT_ORACLE)
def churned_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT-distinct set semantics (Spark ``subtract``) — the reference
    has no set operators (SURVEY.md §2.8); Spark supplies them on the
    long-format surface."""
    o = load(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y96.subtract(y97)


# ---------------------------------------------------------------------------
# ROLLUP: hierarchical totals (event_type -> grand total).
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT event_type,
       CAST(date_part('year', ts) AS BIGINT) AS y,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY ROLLUP (event_type, y)
"""


@register("events_rollup_totals", _ROLLUP_ORACLE)
def events_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — grouping-set aggregation (absent in the
    reference, SURVEY.md §2.5; free on the Spark surface)."""
    e = load(spark, sf_dir, "events")
    return (
        e.select("event_type", F.year("ts").cast("long").alias("y"), F.col("value"))
        .rollup("event_type", "y")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Q13 — customer distribution: LEFT OUTER join + double aggregation.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
"""


@register("q13_customer_distribution", _Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join keeps order-less customers (COUNT of a nullable
    key counts only matches), then a second aggregation histograms the
    per-customer counts."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q15 — top supplier: aggregate view + max-match (no LIMIT ties issue).
# ---------------------------------------------------------------------------

_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {sql_dsum(SQL_DISC_PRICE)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", _Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(disc_price()).alias("total_revenue")
    )
    # max as an unpartitioned window over the aggregated per-supplier
    # frame rather than a second `revenue` reference (same single-subtree
    # rationale as q11; ties keep every max-revenue supplier either way)
    w = Window.partitionBy()
    return (
        revenue.withColumn("__mx", F.max("total_revenue").over(w))
        .where(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q22-ish — global sales opportunity: scalar subquery + anti-join.
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
WITH avg_bal AS (
  -- division-free threshold: bal > avg  <=>  bal * n > sum, all exact
  -- decimals/integers (DuckDB's AVG over DECIMAL returns DOUBLE while
  -- Spark's decimal AVG rounds to scale+4 — two different thresholds)
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n FROM customer
  WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


@register("q22_sales_opportunity", _Q22_ORACLE)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-but-recently-inactive customers: scalar-subquery threshold
    + left-anti join against recent orders. The above-average test runs
    division-free (bal * n > sum — exact decimal/integer math on both
    engines; an AVG would be decimal(22,6)-rounded in Spark but a DOUBLE
    in DuckDB, two subtly different thresholds)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    # scalar subquery as a broadcast 1-row cross join: stays one Spark job
    # (no driver round-trip blocking plan construction)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(dec("c_acctbal")).alias("__sum_bal"),
        F.count(F.lit(1)).alias("__n_bal"),
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(dec("c_acctbal") * F.col("__n_bal") > F.col("__sum_bal"))
        .drop("__sum_bal", "__n_bal")
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum("c_acctbal").alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Q9-lite — profit by nation and year (no partsupp table in this schema).
# ---------------------------------------------------------------------------

# (no p_name filter — part names are synthetic; keep the join shape)
_Q9_ORACLE = f"""
SELECT n_name AS nation,
       CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year,
       {sql_dsum(SQL_DISC_PRICE)} AS profit
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


@register("q9_nation_profit", _Q9_ORACLE)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(disc_price()).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Semi-structured: JSON props extraction + aggregation.
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


@register("events_json_props", _JSON_ORACLE)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: per-row JSON parsing stays JVM-side
    (``get_json_object``) and aggregates map-side-combine as usual."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("total_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Window-function variety: lag deltas + per-user ranking.
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT event_id, user_id,
       CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
            AS BIGINT) AS gap_us,
       RANK() OVER (PARTITION BY user_id ORDER BY CAST(value AS DECIMAL(18,6)) DESC, event_id)
         AS value_rank
FROM events
"""


@register("events_lag_rank", _LAG_ORACLE)
def events_lag_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + rank window functions over the event stream (inter-event gap
    in µs and per-user value ranking)."""
    e = load(spark, sf_dir, "events")
    w_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = Window.partitionBy("user_id").orderBy(F.desc(dec("value")), F.asc("event_id"))
    ts_us = F.unix_micros(F.col("ts"))
    prev_us = F.unix_micros(F.lag("ts").over(w_time))
    return e.select(
        "event_id",
        "user_id",
        (ts_us - prev_us).alias("gap_us"),
        F.rank().over(w_val).alias("value_rank"),
    )


# ---------------------------------------------------------------------------
# Q16-like — supplier diversity per part attribute: distinct agg after join.
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
GROUP BY p_brand, p_size
"""


@register("q16_supplier_diversity", _Q16_ORACLE)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q11-like — important stock: HAVING against a scalar fraction-of-total.
# ---------------------------------------------------------------------------

_Q11_ORACLE = f"""
WITH per_nation AS (
  SELECT n_name, {sql_dsum('l_extendedprice')} AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, value FROM per_nation
WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 0.05 FROM per_nation)
"""


@register("q11_important_stock", _Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supply value filtered by a scalar 5%-of-total
    subquery — the grand total is a one-row broadcast."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    per_nation = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("l_extendedprice").alias("value"))
    )
    # the 5%-of-total threshold as an unpartitioned window over the
    # ~25-row aggregated frame instead of a second reference to
    # per_nation (which plans the whole lineitem join+agg subtree twice
    # and leans on runtime exchange reuse to dedupe it): one subtree,
    # same exact decimal total
    w = Window.partitionBy()
    threshold = (
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
        * F.lit(0.05)
    )
    return (
        per_nation.withColumn("__thr", threshold)
        .where(F.col("value") > F.col("__thr"))
        .select("n_name", "value")
    )


# ---------------------------------------------------------------------------
# Q2-like — minimum-cost supplier: correlated MIN subquery over supply
# offers. The synthetic schema has no partsupp, so the offer table is
# derived from lineitem (min extended price per part/supplier pair) —
# the correlated-aggregate shape is identical (reference has no
# relational ops; TPC-H Q2 shape on Spark SQL).
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
WITH offers AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT partkey, cost, s_name, n_name, s_acctbal
  FROM offers
  JOIN supplier ON suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), best AS (
  SELECT *, MIN(cost) OVER (PARTITION BY partkey) AS best_cost FROM eu
)
SELECT p_partkey, p_brand, s_name, n_name,
       CAST(s_acctbal AS DOUBLE) AS s_acctbal,
       CAST(cost AS DOUBLE) AS min_cost
FROM best JOIN part ON partkey = p_partkey
WHERE cost = best_cost AND p_size <= 10
"""


@register("q2_min_cost_supplier", _Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-MIN subquery as a window MIN over the offer table.

    Scale shape: the offer aggregation is one map-side-combinable
    shuffle on (partkey, suppkey); supplier/nation/region are broadcast;
    the per-part MIN is a window over the *aggregated* (small) offers,
    not the fact table. Ties keep all best-cost suppliers (standard Q2
    semantics) so no LIMIT nondeterminism.
    """
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    # pre-filter the fact side with a broadcast semi-join on the ~20%
    # of parts that survive the p_size predicate BEFORE the offer
    # aggregation (the final p_partkey join would discard the rest
    # anyway, after the shuffle): the (partkey, suppkey) agg hashes and
    # shuffles 5x fewer rows, per-part offer sets are untouched
    l = l.join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    offers = l.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(dec("l_extendedprice")).alias("cost"))
    eu = (
        offers.join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("partkey", "cost", "s_name", "n_name", "s_acctbal")
    )
    w = Window.partitionBy("partkey")
    best = eu.withColumn("best_cost", F.min("cost").over(w)).filter(
        F.col("cost") == F.col("best_cost")
    )
    return best.join(F.broadcast(p), F.col("partkey") == p.p_partkey).select(
        "p_partkey",
        "p_brand",
        "s_name",
        "n_name",
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
        F.col("cost").cast("double").alias("min_cost"),
    )


# ---------------------------------------------------------------------------
# Q12-like — priority classification: conditional aggregation over a
# fact-fact join (no l_shipmode in the synthetic schema; l_linestatus is
# the grouping attribute, order priority is the CASE condition).
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


@register("q12_priority_lines", _Q12_ORACLE)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count aggregation; the shipdate filter is pushed to the
    lineitem scan and the orderkey join shuffles only the filtered year."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q20-like — excess suppliers: semi-join against an aggregated-threshold
# subquery (no partsupp; "heavy supply lines" derived from lineitem).
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
WITH heavy AS (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,1))) > 60
)
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12', 'NATION_21')
  AND s_suppkey IN (SELECT l_suppkey FROM heavy)
"""


@register("q20_excess_suppliers", _Q20_ORACLE)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery as a left-semi join; the HAVING threshold shrinks the
    build side before the semi-join so only qualifying suppkeys shuffle."""
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1998-01-01")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_12", "NATION_21")
    )
    heavy = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 60)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
    )


# ---------------------------------------------------------------------------
# Q21-like — sole returned supplier: EXISTS / NOT EXISTS self-joins on the
# fact table (no l_receiptdate; "kept waiting" adapted to "only supplier
# with a returned line in a multi-supplier finished order").
# ---------------------------------------------------------------------------

_Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


@register("q21_sole_returned_supplier", _Q21_ORACLE)
def q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi, NOT EXISTS as left-anti self-joins.

    Both self-joins are orderkey equi-joins with the supplier inequality
    as a residual predicate — they shuffle on orderkey (co-partitioned
    with the fact scan), never nested-loop. The supplier dim broadcasts.
    """
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_returnflag").filter(
        F.col("l_returnflag") == "R"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    cand = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(o, F.col("l_orderkey") == o.o_orderkey, "left_semi")
    )
    return (
        cand.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Batch sessionization — session_window outside streaming, validated against
# the classic SQL gaps-and-islands formulation.
# ---------------------------------------------------------------------------

_SESSIONIZE_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sess
"""


@register("events_sessionize_batch", _SESSIONIZE_ORACLE)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization of the event log in BATCH mode via
    ``session_window`` — the same builtin the streaming pipeline uses, so
    backfill and live paths share one definition. The oracle is the
    equivalent gaps-and-islands SQL (LAG ≥ gap starts an island), proving
    the two formulations agree row-for-row.

    Scale shape: session_window is a single keyed aggregation — one
    shuffle on user_id, sessions assembled executor-side. The SQL-window
    alternative needs the same shuffle plus a full per-user sort, so the
    builtin is strictly cheaper at 100 TB. Boundary semantics: a gap of
    exactly 30:00 closes the session in both engines (window end is
    exclusive)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("_tv"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )


_PIVOT_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY 1
"""

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register("events_pivot_types", _PIVOT_ORACLE)
def events_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: one row per day, one count column per event type
    (``groupBy().pivot()`` with the value list pinned — pinning skips
    Spark's extra distinct-values job AND fixes the output schema, both
    required at scale). Missing (day, type) combos coalesce to 0 to match
    SQL's FILTER counts; oracle is conditional aggregation."""
    e = load(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return wide.na.fill(0, subset=_EVENT_TYPES)


_MEDIAN_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, value AS median_value, n AS n_events
FROM ranked WHERE rn = (n + 1) // 2
"""


@register("events_median_value_by_type", _MEDIAN_ORACLE)
def events_median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group lower median by rank selection (rn = (n+1)/2 over
    the value ordering) — no interpolation arithmetic, so the result is
    a bit-exact element of the input in any engine. One shuffle on the
    group key; at scale the same shape as any keyed window. Ties broken
    by event_id so both engines pick the identical row."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    return ranked.where(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        "event_type",
        F.col("value").alias("median_value"),
        F.col("n").alias("n_events"),
    )


_RANGE_WINDOW_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS hour_value,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS hour_events
FROM events
"""


@register("events_range_window_hour", _RANGE_WINDOW_ORACLE)
def events_range_window_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window per row: each event's trailing-1-hour
    sum/count for its user — a RANGE (value-based) window frame, not a
    ROWS frame. Spark's rangeBetween needs a numeric ordering column, so
    the frame runs over ``unix_micros(ts)`` with a µs-exact bound; DuckDB
    expresses the same frame natively over the timestamp. Exact-decimal
    accumulation keeps the float sum order-independent."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value")).over(w).cast("double").alias("hour_value"),
        F.count(F.lit(1)).over(w).alias("hour_events"),
    )


_CUBE_ORACLE = """
SELECT event_type,
       CAST(date_part('dow', ts) AS BIGINT) AS dow,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY CUBE (event_type, dow)
"""


@register("events_cube_counts", _CUBE_ORACLE)
def events_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all 2^k grouping sets in one pass (completes the
    grouping-sets family next to the ROLLUP gate). Spark expands the
    cube before the shuffle, so it stays one map-side-combinable
    aggregation."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            (F.dayofweek("ts").cast("long") - 1).alias("dow"),
            "user_id",
        )
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_PRANK_ORACLE = """
SELECT event_id, user_id, value,
       percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id) AS pr,
       cume_dist() OVER (PARTITION BY user_id ORDER BY value, event_id) AS cd,
       ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS quartile
FROM events
"""


@register("events_percent_rank", _PRANK_ORACLE)
def events_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window family: percent_rank ((rank−1)/(n−1)),
    cume_dist, ntile — all exact rational arithmetic on integer ranks,
    identical in any engine; event_id tiebreak makes ntile deterministic."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )
