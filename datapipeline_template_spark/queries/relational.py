"""Relational query surface (SURVEY.md §2.2 X1–X7).

The reference is an ingestion template with no query layer
(`/root/reference/src/sdp_etl/transformations/*` contain no joins or
aggregations — SURVEY.md §2 scope note); this module provides the
general relational surface over the same tables: projection/filter,
equi/semi/anti/outer joins, hash aggregation, distinct aggregation,
rollup, set ops, scalar string/date/JSON functions, range (theta)
join, having.

Scale notes (100 TB): every join below either broadcasts its small
side explicitly (`F.broadcast`) or is an equi-join on the natural key
so Catalyst/AQE picks sort-merge with skew splitting; aggregates are
expressed as single `groupBy.agg` so partial (map-side) aggregation
applies. Filters are plain column predicates → pushed to the parquet
scan (check `PushedFilters` in explain).

Determinism: money aggregates use integer-cents (see functions module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register_views, table
from ..functions import cents
from . import register

# ---------------------------------------------------------------------------
# q01 — flagship: TPC-H Q1-style pricing summary (filter → hash agg)
# ---------------------------------------------------------------------------

_Q01_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)                         AS sum_qty,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0          AS sum_base_price,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0      AS sum_disc_price,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
        * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0         AS sum_charge,
  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE)/COUNT(*)                AS avg_qty,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_price,
  CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0      AS avg_disc,
  COUNT(*)                                                                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q01_pricing_summary", oracle=_Q01_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: single-pass hash aggregation with partial
    (map-side) combine; the shipdate predicate pushes to the scan."""
    li = table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    price_c = cents("l_extendedprice")
    disc_bp = cents("l_discount")
    tax_bp = cents("l_tax")
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(price_c).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(price_c * (F.lit(100) - disc_bp)).cast("double") / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            (
                F.sum(price_c * (F.lit(100) - disc_bp) * (F.lit(100) + tax_bp)).cast("double")
                / F.lit(1000000.0)
            ).alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price_c).cast("double") / n / F.lit(100.0)).alias("avg_price"),
            (F.sum(disc_bp).cast("double") / n / F.lit(100.0)).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — TPC-H Q3-style: 3-way join + agg + deterministic top-k
# ---------------------------------------------------------------------------

_Q02_ORACLE = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-07-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q02_top_revenue_orders", oracle=_Q02_ORACLE)
def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-order revenue: broadcast the filtered customer dim,
    shuffle join orders↔lineitem on the order key, top-10 with a total
    order (revenue is exact-int-derived → deterministic ties)."""
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-07-01 00:00:00").cast("timestamp")
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev).cast("double") / F.lit(10000.0)).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q03 — TPC-H Q5-style: 6-way join with broadcast dims
# ---------------------------------------------------------------------------

_Q03_ORACLE = """
SELECT
  n_name,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("q03_regional_volume", oracle=_Q03_ORACLE)
def q03_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume: the three dims (supplier, nation, region)
    broadcast; the fact-fact join (orders↔lineitem) is the only shuffle."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(rev).cast("double") / F.lit(10000.0)).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q04 / q05 — anti & semi joins
# ---------------------------------------------------------------------------

_Q04_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


@register("q04_customers_without_urgent_orders", oracle=_Q04_ORACLE)
def q04_customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — Spark's dedicated anti-join avoids materializing
    the non-matching side (vs. outer-join-then-null-filter). The
    URGENT predicate keeps the result non-empty at every SF so the
    value-hash gate actually exercises the operator."""
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_Q05_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
)
"""


@register("q05_big_spenders_semi", oracle=_Q05_ORACLE)
def q05_big_spenders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join with the predicate pushed into the probe side scan."""
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000.0)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# q06 — left outer join + aggregation (zero-preserving)
# ---------------------------------------------------------------------------

_Q06_ORACLE = """
SELECT
  c_custkey,
  c_name,
  COUNT(o_orderkey) AS order_cnt,
  CAST(COALESCE(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)), 0) AS DOUBLE)/100.0 AS total_spent
FROM customer
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


@register("q06_customer_order_stats", oracle=_Q06_ORACLE)
def q06_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (COUNT(col) skips
    nulls; SUM over no rows coalesced to 0)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            (
                F.coalesce(F.sum(cents("o_totalprice")), F.lit(0).cast("long")).cast("double")
                / F.lit(100.0)
            ).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# q07 — distinct aggregation
# ---------------------------------------------------------------------------

_Q07_ORACLE = """
SELECT
  o_orderpriority,
  COUNT(*) AS order_cnt,
  COUNT(DISTINCT o_custkey) AS n_customers,
  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


@register("q07_priority_stats", oracle=_Q07_ORACLE)
def q07_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst expands to a two-phase aggregate
    (partial distinct per partition, then merge) automatically."""
    orders = table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return orders.groupBy("o_orderpriority").agg(
        n.alias("order_cnt"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (F.sum(cents("o_totalprice")).cast("double") / n / F.lit(100.0)).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# q08 — ROLLUP with grouping bitmask
# ---------------------------------------------------------------------------

_Q08_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
  COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("q08_rollup_returns", oracle=_Q08_ORACLE)
def q08_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP; grouping_id distinguishes the
    subtotal levels (same bitmask semantics as DuckDB GROUPING)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("grp_id"),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q08b — CUBE (all grouping-set combinations)
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
  COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("q18_cube_returns", oracle=_Q18_ORACLE)
def q18_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one pass (X3)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("grp_id"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q19 — approximate distinct (HLL) — rows-only (sketch values are
# engine-specific; the exact-distinct twin q07 is the oracle-checked one)
# ---------------------------------------------------------------------------


@register("q19_approx_distinct", oracle=None)
def q19_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the constant-memory
    distinct-count for 100 TB cardinality estimation. HLL sketches are
    engine-specific → rows-only check; accuracy is asserted against
    exact counts in the result itself (rel_err column)."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.countDistinct("o_custkey").alias("exact_customers"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", 0.02).cast("double")
                - F.countDistinct("o_custkey").cast("double")
            )
            / F.countDistinct("o_custkey").cast("double")
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# q09 — CASE expression buckets
# ---------------------------------------------------------------------------

_Q09_ORACLE = """
SELECT
  CASE WHEN c_acctbal < 0 THEN 'negative'
       WHEN c_acctbal < 5000 THEN 'mid'
       ELSE 'high' END AS bal_bucket,
  COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_bal
FROM customer
GROUP BY 1
"""


@register("q09_acctbal_buckets", oracle=_Q09_ORACLE)
def q09_acctbal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression evaluation (X1) feeding an aggregation."""
    cust = table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_bucket")
    )
    n = F.count(F.lit(1))
    return cust.groupBy(bucket).agg(
        n.alias("n"),
        (F.sum(cents("c_acctbal")).cast("double") / n / F.lit(100.0)).alias("avg_bal"),
    )


# ---------------------------------------------------------------------------
# q10 — scalar string functions
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT
  p_brand,
  COUNT(*) AS n,
  CAST(SUM(CAST(LENGTH(p_name) AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_name_len,
  COUNT(DISTINCT UPPER(p_type)) AS n_types,
  MIN(SUBSTRING(p_name, 1, 5)) AS first_prefix
FROM part
GROUP BY p_brand
"""


@register("q10_brand_name_stats", oracle=_Q10_ORACLE)
def q10_brand_name_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function library: length / upper / substring (X7)."""
    part = table(spark, sf_dir, "part")
    n = F.count(F.lit(1))
    return part.groupBy("p_brand").agg(
        n.alias("n"),
        (F.sum(F.length("p_name").cast("long")).cast("double") / n).alias("avg_name_len"),
        F.countDistinct(F.upper("p_type")).alias("n_types"),
        F.min(F.substring("p_name", 1, 5)).alias("first_prefix"),
    )


# ---------------------------------------------------------------------------
# q11 — date functions
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
SELECT
  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
  COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1997
GROUP BY 1
"""


@register("q11_orders_by_month", oracle=_Q11_ORACLE)
def q11_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date function library: date_trunc / extract (X7)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.where(F.year("o_orderdate") == 1997)
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("o_totalprice")).cast("double") / F.lit(100.0)).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q12 — JSON payload extraction (events.props)
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(REGEXP_EXTRACT(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_value
FROM events
GROUP BY event_type
"""


@register("q12_event_props", oracle=_Q12_ORACLE)
def q12_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads: extract the numeric field from the JSON
    props string (get_json_object in production; regexp here so the
    oracle matches without DuckDB's JSON extension)."""
    ev = table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r"([0-9]+)", 1).cast("long")
    n = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        F.sum(k).alias("sum_k"),
        (F.sum(cents("value")).cast("double") / n / F.lit(100.0)).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# q13/q14/q15 — set operations
# ---------------------------------------------------------------------------

_BUYERS_Y = """
SELECT DISTINCT o_custkey AS custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '{y1}-01-01 00:00:00'
"""


def _buyers(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )


_Q13_ORACLE = (
    _BUYERS_Y.format(y=1995, y1=1996) + " INTERSECT " + _BUYERS_Y.format(y=1996, y1=1997)
)


@register("q13_repeat_buyers_intersect", oracle=_Q13_ORACLE)
def q13_repeat_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of 1995 and 1996 buyer sets (X6)."""
    return _buyers(spark, sf_dir, 1995).intersect(_buyers(spark, sf_dir, 1996))


_Q14_ORACLE = _BUYERS_Y.format(y=1995, y1=1996) + " EXCEPT " + _BUYERS_Y.format(y=1996, y1=1997)


@register("q14_lapsed_buyers_except", oracle=_Q14_ORACLE)
def q14_lapsed_buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers who bought in 1995 but not 1996."""
    return _buyers(spark, sf_dir, 1995).exceptAll(_buyers(spark, sf_dir, 1996))


_Q15_ORACLE = _BUYERS_Y.format(y=1995, y1=1996) + " UNION " + _BUYERS_Y.format(y=1996, y1=1997)


@register("q15_buyers_union", oracle=_Q15_ORACLE)
def q15_buyers_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two buyer sets."""
    return _buyers(spark, sf_dir, 1995).union(_buyers(spark, sf_dir, 1996)).distinct()


# ---------------------------------------------------------------------------
# q16 — HAVING
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT c_nationkey, COUNT(*) AS n_customers,
  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_bal
FROM customer
GROUP BY c_nationkey
HAVING COUNT(*) > 5
"""


@register("q16_nations_big_customer_base", oracle=_Q16_ORACLE)
def q16_nations_big_customer_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    cust = table(spark, sf_dir, "customer")
    n = F.count(F.lit(1))
    return (
        cust.groupBy("c_nationkey")
        .agg(
            n.alias("n_customers"),
            (F.sum(cents("c_acctbal")).cast("double") / n / F.lit(100.0)).alias("avg_bal"),
        )
        .where(F.col("n_customers") > 5)
    )


# ---------------------------------------------------------------------------
# q20 — scalar math function library (X7)
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
SELECT p_partkey,
       sqrt(p_retailprice) AS price_sqrt,
       abs(p_retailprice - 950.0) AS price_dev,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(p_size % 7 AS BIGINT) AS size_mod,
       CAST(greatest(p_size, 25) AS BIGINT) AS size_hi,
       CAST(least(p_size, 25) AS BIGINT) AS size_lo
FROM part
"""


@register("q20_scalar_math", oracle=_Q20_ORACLE)
def q20_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function library: sqrt/abs/ceil/floor/mod/greatest/least
    (all IEEE-correctly-rounded or integral → engine-exact)."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.sqrt("p_retailprice").alias("price_sqrt"),
        F.abs(F.col("p_retailprice") - F.lit(950.0)).alias("price_dev"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        (F.col("p_size") % 7).cast("long").alias("size_mod"),
        F.greatest(F.col("p_size"), F.lit(25)).cast("long").alias("size_hi"),
        F.least(F.col("p_size"), F.lit(25)).cast("long").alias("size_lo"),
    )


# ---------------------------------------------------------------------------
# q21 — GROUPING SETS through the spark.sql entry point
# ---------------------------------------------------------------------------

# NB: single-column GROUPING() only — Spark's SQL grouping() takes one
# column (DuckDB's multi-arg bitmask form doesn't parse in Spark).
_Q21_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
  COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("q21_grouping_sets", oracle=_Q21_SQL)
def q21_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS, run through ``spark.sql`` over the
    registered views — the engine's SQL entry point (every other query
    uses the DataFrame API; both front ends share Catalyst). The
    oracle is the IDENTICAL SQL string, which DuckDB also accepts."""
    register_views(spark, sf_dir, only=("lineitem",))
    return spark.sql(_Q21_SQL)


# ---------------------------------------------------------------------------
# q22 — array aggregation / array functions
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
SELECT l_orderkey,
       COUNT(*) AS n_items,
       array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
WHERE l_orderkey % 100 = 0
GROUP BY l_orderkey
"""


@register("q22_array_agg", oracle=_Q22_ORACLE)
def q22_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation: collect_set → array_sort → array_join.
    Array semantics stay in-plan (X7 array functions over an X3
    aggregate), but the emitted column is a scalar string because the
    driver's pandas-based hasher cannot sort/hash array cells
    (round-2 TypeError: unhashable type 'list')."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.array_join(F.array_sort(F.collect_set("l_returnflag")), ",").alias("flags"),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# q17 — range (theta) self-join on event time
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
SELECT e1.user_id AS user_id, COUNT(*) AS n_pairs
FROM events e1
JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 1 HOUR
GROUP BY e1.user_id
"""


@register("q17_event_pairs_within_hour", oracle=_Q17_ORACLE)
def q17_event_pairs_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: equi-join on user_id plus a time-band theta condition.
    The equi component keys the shuffle, so the theta part evaluates
    within co-located partitions (no cartesian explosion)."""
    ev = table(spark, sf_dir, "events")
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q33 — date arithmetic: month-end buckets, month spans, quarters
# ---------------------------------------------------------------------------

_Q33_ORACLE = """
SELECT
  CAST(last_day(o_orderdate) AS DATE) AS month_end,
  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT)) AS BIGINT)
    AS total_days_to_cutoff
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY month_end, qtr
"""


@register("q33_month_end_buckets", oracle=_Q33_ORACLE)
def q33_month_end_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function family: last_day / quarter / datediff — all
    codegen'd JVM date math on the int96-free timestamp column; the
    shipdate filter still pushes to the scan."""
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        orders.select(
            F.last_day("o_orderdate").alias("month_end"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
            F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
                "_days"
            ),
        )
        .groupBy("month_end", "qtr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("_days").cast("long")).alias("total_days_to_cutoff"),
        )
    )


# ---------------------------------------------------------------------------
# q34 — edit-distance pairs (levenshtein), blocked to stay sub-quadratic
# ---------------------------------------------------------------------------

_Q34_ORACLE = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 3
"""


@register("q34_levenshtein_pairs", oracle=_Q34_ORACLE)
def q34_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical supplier names by edit distance ≤ 3, blocked by
    nation so the self-join is per-block quadratic, not global (the
    same blocking discipline as the fuzzy-dedup family; at corpus
    scale swap the block key for an LSH bucket)."""
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_name")
    a, b = sup.alias("a"), sup.alias("b")
    dist = F.levenshtein(F.col("a.s_name"), F.col("b.s_name")).cast("long")
    return (
        a.join(
            b,
            (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .select(
            F.col("a.s_suppkey").alias("id_a"),
            F.col("b.s_suppkey").alias("id_b"),
            dist.alias("dist"),
        )
        .where(F.col("dist") <= 3)
    )


# ---------------------------------------------------------------------------
# q36 — map functions: build per-group maps in-plan, extract scalars
# ---------------------------------------------------------------------------

_Q36_ORACLE = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
FROM orders
GROUP BY o_orderpriority
"""


@register("q36_map_functions", oracle=_Q36_ORACLE)
def q36_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (X7): per-priority status→count maps built with
    map_from_arrays over sorted collect_lists, read back with
    element_at / map_keys. Output stays scalar so the oracle replays
    it as conditional aggregation — the map operations live in the
    Spark plan, the VALUES are engine-checked."""
    orders = table(spark, sf_dir, "orders")
    per_status = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # array_sort on the (status, cnt) structs gives a deterministic
    # map entry order (map equality is order-sensitive on collect).
    entries = per_status.groupBy("o_orderpriority").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("o_orderstatus").alias("k"), F.col("cnt").alias("v")))
        ).alias("kv")
    )
    m = F.map_from_arrays(
        F.transform(F.col("kv"), lambda e: e.getField("k")),
        F.transform(F.col("kv"), lambda e: e.getField("v")),
    )
    return entries.select(
        "o_orderpriority",
        F.coalesce(F.element_at(m, "F"), F.lit(0).cast("long")).alias("n_f"),
        F.coalesce(F.element_at(m, "O"), F.lit(0).cast("long")).alias("n_o"),
        F.size(F.map_keys(m)).cast("long").alias("n_statuses"),
    )


@register("q17b_event_pairs_window", oracle=_Q17_ORACLE)
def q17b_event_pairs_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q17's semantics without the self-join: per event, COUNT the
    events in (ts, ts+1h] via a RANGE frame over microsecond longs,
    then sum per user. ONE shuffle on user_id replaces the join's
    shuffle+sort+merge of both sides — at 100 TB the window form
    moves each row once and never materializes the pair set. Shares
    q17's oracle: the driver proves the plans agree."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(1, 3_600_000_000)  # (ts, ts + 1h] in microseconds
    )
    return (
        ev.withColumn("n_after", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.sum("n_after").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# q37 — full outer join (both-side null preservation)
# ---------------------------------------------------------------------------

_Q37_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_rich_cust
  FROM customer WHERE c_acctbal > 9900.0 GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_rich_supp
  FROM supplier WHERE s_acctbal > 9000.0 GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(n_rich_cust, 0) AS n_rich_cust,
       COALESCE(n_rich_supp, 0) AS n_rich_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


@register("q37_full_outer_nations", oracle=_Q37_ORACLE)
def q37_full_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two sparse per-nation aggregates — both
    unmatched sides survive with nulls coalesced to 0 (the acctbal
    filters guarantee each side is missing nations, so both outer
    branches are actually exercised)."""
    cust = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9900.0)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_cust"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000.0)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return cust.join(supp, cust.c_nk == supp.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").cast("long").alias("nationkey"),
        F.coalesce("n_rich_cust", F.lit(0)).alias("n_rich_cust"),
        F.coalesce("n_rich_supp", F.lit(0)).alias("n_rich_supp"),
    )


# ---------------------------------------------------------------------------
# q38/q39 — multiset set ops (ALL variants keep duplicate cardinality)
# ---------------------------------------------------------------------------

_Q38_ORACLE = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
"""


@register("q38_intersect_all_priorities", oracle=_Q38_ORACLE)
def q38_intersect_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each priority appears
    min(count_F, count_O) times — dramatically different from the
    5-row distinct INTERSECT (q13). Catalyst plans both ALL-variants
    as a single aggregate over per-side counts, not a join."""
    orders = table(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o = orders.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.intersectAll(o)


_Q39_ORACLE = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
"""


@register("q39_except_all_priorities", oracle=_Q39_ORACLE)
def q39_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: each priority survives max(count_F - count_O, 0)
    times — multiset difference, order-insensitive value-hash-safe."""
    orders = table(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o = orders.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.exceptAll(o)


# ---------------------------------------------------------------------------
# q40 — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_Q40_ORACLE = """
WITH a AS (
  SELECT NULLIF(event_type, 'click') AS seg, COUNT(*) AS cnt_all
  FROM events GROUP BY 1
), b AS (
  SELECT NULLIF(event_type, 'click') AS seg, COUNT(*) AS cnt_high
  FROM events WHERE value > 50.0 GROUP BY 1
)
SELECT a.seg, cnt_all, cnt_high
FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
"""


@register("q40_null_safe_join", oracle=_Q40_ORACLE)
def q40_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (`<=>`): the NULL segment (clicks, via
    NULLIF) must match ITSELF across the join — plain `=` silently
    drops it, a classic correctness trap in segment rollups. Catalyst
    plans `<=>` as a hash join key (coalesced struct), not a
    nested-loop residual."""
    ev = table(spark, sf_dir, "events")
    seg = F.nullif(F.col("event_type"), F.lit("click")).alias("seg")
    a = ev.select(seg).groupBy("seg").agg(F.count(F.lit(1)).alias("cnt_all"))
    b = (
        ev.where(F.col("value") > 50.0)
        .select(seg)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("cnt_high"))
        .withColumnRenamed("seg", "seg_b")
    )
    return a.join(b, a.seg.eqNullSafe(F.col("seg_b"))).select("seg", "cnt_all", "cnt_high")


# ---------------------------------------------------------------------------
# q41 — VariantType semi-structured path (parse_json / variant_get)
# ---------------------------------------------------------------------------

_Q41_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT)
         AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type, k_bucket
"""


@register("q41_variant_json", oracle=_Q41_ORACLE)
def q41_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType: `parse_json` shreds the props string into a
    binary variant ONCE per row; `variant_get` then does typed path
    extraction without re-parsing — at 100 TB the parse cost is paid
    one time per ingested row instead of once per accessed field
    (unlike q12's regexp or repeated get_json_object calls). Grouped by
    (event_type, k//10) bucket; exact-int aggregates for oracle parity."""
    ev = table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy(
            "event_type",
            F.floor(F.col("_k") / 10).cast("long").alias("k_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("sum_k"),
            F.max("_k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# q42 — Bloom-filter-accelerated semi join (runtime-filter pattern)
# ---------------------------------------------------------------------------

_Q42_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0
         AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag, l_linestatus
"""


@register("q42_bloom_semi_join", oracle=_Q42_ORACLE)
def q42_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to URGENT orders, via
    operators.bloom.bloom_semi_join: the urgent-order keys build an
    in-plan Bloom bitmap (one broadcast row), the lineitem scan is
    pre-filtered map-only against it, and only surviving rows enter
    the exact semi join — the explicit form of the runtime-filter
    optimization AQE applies internally. Result is EXACTLY the plain
    semi join (the bitmap only prunes); integer-cents revenue.

    Honest A/B at sf0.1 (best-of-3, one session): bloom 1.30 s vs
    plain semi join 0.52 s — at THIS scale the 37.5k-key dim
    broadcasts outright, so the bitmap build (second orders scan + two
    tiny shuffles) is pure overhead. The pattern pays when the dim is
    too big to broadcast and the fact side would otherwise shuffle:
    the map-only probe then deletes ~80% of a multi-TB exchange
    (60 000 → 11 784 fact rows at sf0.01). Since round 6 the operator
    AUTO-BYPASSES the bitmap when Catalyst's dim size estimate fits
    the broadcast threshold (operators/bloom.should_use_bloom), so at
    bench scale this runs the plain broadcast semi join; the forced
    bloom path stays oracle-identical and unit-pinned."""
    from ..operators.bloom import bloom_semi_join

    li = table(spark, sf_dir, "lineitem")
    urgent = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    hits = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    rev = F.sum(
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    ).cast("double") / F.lit(10000.0)
    return hits.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        rev.alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q43 — KMV distinct-count sketch, the hash-green approx-distinct twin
# of q19's rows-only HLL (the ss05→ss15 shadowing pattern applied to
# cardinality estimation)
# ---------------------------------------------------------------------------

_KMV_K = 64


def _kmv_oracle() -> str:
    """Oracle GENERATED from the operator constants (the
    _classifier_sql discipline): hash, rank and estimator replay the
    exact integer math of operators/sketch.py kmv_hash/kmv_estimate."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    k, p = _KMV_K, KMV_P
    num = (k - 1) * p  # fits BIGINT; DuckDB parses the literal as INT64
    return f"""
WITH x AS (
  SELECT o_orderpriority AS pri,
         ((o_custkey % {p}) + {p}) % {p} AS x0
  FROM orders WHERE o_custkey IS NOT NULL
), h AS (
  SELECT DISTINCT pri,
    ( ((x0*x0) % {p}) * {KMV_A} % {p}
      + (x0 * {KMV_B}) % {p}
      + {KMV_C} ) % {p} AS h
  FROM x
), r AS (
  SELECT pri, h,
         ROW_NUMBER() OVER (PARTITION BY pri ORDER BY h) AS rn,
         COUNT(*)    OVER (PARTITION BY pri) AS nd
  FROM h
), s AS (
  SELECT pri,
         MAX(nd) AS nd,
         MAX(CASE WHEN rn = {k} THEN h END) AS m_k
  FROM r WHERE rn <= {k} GROUP BY pri
), e AS (
  SELECT o_orderpriority AS pri,
         COUNT(DISTINCT o_custkey) AS exact_customers
  FROM orders GROUP BY 1
)
SELECT s.pri AS o_orderpriority,
       e.exact_customers,
       CASE WHEN s.nd < {k} THEN s.nd ELSE {num} // s.m_k END
         AS kmv_customers,
       CAST(ABS(CASE WHEN s.nd < {k} THEN s.nd ELSE {num} // s.m_k END
                - e.exact_customers) AS DOUBLE) / e.exact_customers
         AS rel_err
FROM s JOIN e USING (pri)
"""


@register("q43_kmv_distinct", oracle=_kmv_oracle())
def q43_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct customers per order priority via the KMV
    k-minimum-values sketch (operators/sketch.py) — deterministic
    integer hashing + integer-division estimator, so unlike q19's HLL
    the approximate path itself is DuckDB-hash-verified. The exact
    count rides along for the honest rel_err column (both engines
    derive it from identical integers, so the double division is
    IEEE-identical — the q09 avg pattern). k=64 ⇒ ~12% expected
    relative error at O(k) memory per group; the sketch is mergeable
    (kmv_merge), which is what makes it the 100 TB shape: persist one
    64-long array per group per day/source, combine without re-scan
    (streaming/kmv.py maintains exactly that)."""
    from ..operators.sketch import kmv_estimate, kmv_sketch

    orders = table(spark, sf_dir, "orders")
    sk = kmv_sketch(orders, "o_orderpriority", "o_custkey", k=_KMV_K)
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    est = kmv_estimate("kmv", _KMV_K)
    return sk.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "exact_customers",
        est.alias("kmv_customers"),
        (
            F.abs(est - F.col("exact_customers")).cast("double")
            / F.col("exact_customers")
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# q44 — KMV sketch SET OPERATIONS (theta-sketch shape): union,
# intersection and Jaccard of two customer cohorts estimated purely
# from their mergeable k-min sketches
# ---------------------------------------------------------------------------

_Q44_K = 64
_Q44_YA, _Q44_YB = 1995, 1996


def _q44_oracle() -> str:
    """GENERATED from the operator constants (the _kmv_oracle
    discipline): hash, ranks, θ = m_k of the merged sketch, and both
    estimators replay operators/sketch.py kmv_intersect_estimate /
    kmv_jaccard_estimate integer-for-integer."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    k, p, ya, yb = _Q44_K, KMV_P, _Q44_YA, _Q44_YB
    num_u = (k - 1) * p
    return f"""
WITH x AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr,
         ((o_custkey % {p}) + {p}) % {p} AS x0
  FROM orders
  WHERE o_custkey IS NOT NULL
    AND EXTRACT(year FROM o_orderdate) IN ({ya}, {yb})
), h AS (
  SELECT DISTINCT yr,
    ( ((x0*x0) % {p}) * {KMV_A} % {p}
      + (x0 * {KMV_B}) % {p}
      + {KMV_C} ) % {p} AS h
  FROM x
), ra AS (
  SELECT h FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h WHERE yr = {ya}
  ) WHERE rn <= {k}
), rb AS (
  SELECT h FROM (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h WHERE yr = {yb}
  ) WHERE rn <= {k}
), mg AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
  FROM (SELECT h FROM ra UNION SELECT h FROM rb)
), ms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nm,
         MAX(CASE WHEN rn = {k} THEN h END) AS m_k
  FROM mg WHERE rn <= {k}
), ib AS (SELECT h FROM ra INTERSECT SELECT h FROM rb),
cb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ib,
         CAST(COALESCE(SUM(CASE WHEN i.h < m.m_k THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS below
  FROM ib i CROSS JOIN ms m
), ea AS (
  SELECT DISTINCT o_custkey AS c FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = {ya}
), eb AS (
  SELECT DISTINCT o_custkey AS c FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = {yb}
), ex AS (
  SELECT
    (SELECT COUNT(*) FROM (SELECT c FROM ea UNION SELECT c FROM eb))
      AS exact_union,
    (SELECT COUNT(*) FROM (SELECT c FROM ea INTERSECT SELECT c FROM eb))
      AS exact_inter
)
SELECT CAST(ex.exact_union AS BIGINT) AS exact_union,
       CAST(CASE WHEN ms.nm < {k} THEN ms.nm
                 ELSE {num_u} // ms.m_k END AS BIGINT) AS kmv_union,
       CAST(ex.exact_inter AS BIGINT) AS exact_inter,
       CAST(CASE WHEN ms.nm < {k} THEN cb.n_ib
                 ELSE (cb.below * {p}) // ms.m_k END AS BIGINT) AS kmv_inter,
       CASE WHEN ms.nm < {k} THEN CAST(cb.n_ib AS DOUBLE) / ms.nm
            ELSE CAST(cb.below AS DOUBLE) / {k - 1} END AS kmv_jaccard,
       CAST(ABS(CASE WHEN ms.nm < {k} THEN cb.n_ib
                     ELSE (cb.below * {p}) // ms.m_k END
                - ex.exact_inter) AS DOUBLE) / ex.exact_inter
         AS rel_err_inter
FROM ms, cb, ex
"""


@register("q44_kmv_set_ops", oracle=_q44_oracle())
def q44_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-space SET OPERATIONS — the reason KMV beats a plain
    COUNT(DISTINCT) at 100 TB: two cohorts' customer sets (orders
    placed in 1995 vs 1996) are each summarized to an O(k) mergeable
    sketch, then union, INTERSECTION and Jaccard are estimated purely
    from the two 64-long arrays (operators/sketch.py
    kmv_intersect_estimate / kmv_jaccard_estimate — the Datasketches
    theta-sketch shape on KMV's k-min sample). Persist one sketch per
    cohort/day/source and answer any pairwise overlap question later
    WITHOUT re-scanning the fact table — the audience-overlap /
    cross-epoch-contamination primitive. Exact counts ride along for
    the honest rel_err column; the estimators are deterministic
    integer division, so unlike HLL set ops the whole approximate
    path is DuckDB-hash-verified. When the merged sketch is under-full
    both sketches are complete and the operator returns EXACT set
    sizes (tested); at scale the k−1 below-θ union samples drive both
    estimates. Measured at sf0.01 with k=64: union 1429 → est 1254
    (12.2% err), intersection 913 → est 657 (28.0% err) — the honest
    theta-sketch story: intersection error grows as 1/√(J·k) because
    only the below-θ samples landing in BOTH sketches count (33 of 63
    here), so size k to the smallest overlap you need resolved."""
    from ..operators.sketch import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_jaccard_estimate,
        kmv_merge,
        kmv_sketch,
    )

    orders = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    base = orders.where(yr.isin(_Q44_YA, _Q44_YB)).select(
        yr.alias("yr"), "o_custkey"
    )
    sk = kmv_sketch(base, "yr", "o_custkey", k=_Q44_K)
    a = sk.where(F.col("yr") == _Q44_YA).select(F.col("kmv").alias("ka"))
    b = sk.where(F.col("yr") == _Q44_YB).select(F.col("kmv").alias("kb"))
    ca = orders.where(yr == _Q44_YA).select("o_custkey").distinct()
    cb = orders.where(yr == _Q44_YB).select("o_custkey").distinct()
    exact = (
        ca.union(cb)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("exact_union"))
        .crossJoin(
            ca.intersect(cb).agg(
                F.count(F.lit(1)).cast("long").alias("exact_inter")
            )
        )
    )
    merged = kmv_merge("ka", "kb", _Q44_K)
    inter_est = kmv_intersect_estimate("ka", "kb", _Q44_K)
    return (
        a.crossJoin(b)
        .crossJoin(exact)
        .select(
            "exact_union",
            kmv_estimate(merged, _Q44_K).alias("kmv_union"),
            "exact_inter",
            inter_est.alias("kmv_inter"),
            kmv_jaccard_estimate("ka", "kb", _Q44_K).alias("kmv_jaccard"),
            (
                F.abs(inter_est - F.col("exact_inter")).cast("double")
                / F.col("exact_inter")
            ).alias("rel_err_inter"),
        )
    )


# ---------------------------------------------------------------------------
# q45 — mergeable log-histogram quantile sketch vs exact quantiles:
# the O(bins) additive summary completing the sketch family
# (certified top-k, KMV cardinality + set ops, now quantiles)
# ---------------------------------------------------------------------------

_Q45_QS = ((1, 2), (19, 20), (99, 100))  # p50 / p95 / p99


def _q45_oracle() -> str:
    """GENERATED from the operator constants: bins, upper-edge math
    and the cumulative pick replay operators/sketch.py log_hist_bins/
    hist_quantiles integer-for-integer (milli_log2 via its SQL twin)."""
    from ..operators.sketch import HIST_MILLIBIN
    from .text import _milli_log2_sql

    w = HIST_MILLIBIN
    edge = (
        f"(1::BIGINT << (((bin + 1) * {w}) // 1000))"
        f" + ((((bin + 1) * {w}) % 1000)"
        f" * (1::BIGINT << (((bin + 1) * {w}) // 1000)) + 999) // 1000"
    )
    selects = []
    for qn, qd in _Q45_QS:
        selects.append(f"""SELECT flag, 'p{qn * 100 // qd}' AS q,
       CAST({edge} AS BIGINT) AS est_cents, exact_cents, n_bins
FROM (
  SELECT flag, MIN(bin) AS bin FROM cum
  WHERE cum >= (n * {qn} + {qd} - 1) // {qd} GROUP BY flag
) JOIN ex USING (flag) JOIN nb USING (flag)
""".replace("exact_cents,", f"ex.q{qn * 100 // qd} AS exact_cents,"))
    return f"""
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), b AS (
  SELECT flag, ({_milli_log2_sql('v')}) // {w} AS bin FROM v
), hc AS (
  SELECT flag, bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2
), cum AS (
  SELECT flag, bin,
         SUM(cnt) OVER (PARTITION BY flag ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY flag) AS n
  FROM hc
), nb AS (
  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_bins FROM hc GROUP BY flag
), ex AS (
  SELECT flag,
         quantile_cont(v, 0.5) AS q50,
         quantile_cont(v, 0.95) AS q95,
         quantile_cont(v, 0.99) AS q99
  FROM v GROUP BY flag
)
SELECT flag AS l_returnflag, q, est_cents, exact_cents,
       CAST(est_cents - exact_cents AS DOUBLE) / exact_cents AS rel_err,
       n_bins
FROM ({' UNION ALL '.join(selects)})
ORDER BY l_returnflag, q
"""


@register("q45_histogram_quantiles", oracle=_q45_oracle())
def q45_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from an O(bins) MERGEABLE sketch — the summary that
    completes the sketch family (certified top-k tx13, KMV
    cardinality q43 + set ops q44, histogram quantiles here): price
    per return flag binned into 0.1-log2 integer bins via milli_log2
    (operators/sketch.py log_hist_bins — additive counts, ≤ ~540 bins
    for any int64 value, so per-day/per-source histograms persist in
    O(bins) and MERGE by addition where exact quantiles would rescan
    100 TB; q26b's multipass operator is the exact-answer
    counterpart). The estimate is the bin's integer UPPER EDGE — a
    guaranteed overestimate, ≤ 2^0.1 (+7.2%) above truth in exact log
    space, widened to ≤ ~2^0.187 (+13.9%) worst-case by milli_log2's
    ≤87.2 mb chord underestimate (small values hit it hardest);
    measured here: +0.8% to +4.9% across flag × {p50, p95, p99}, on
    70 bins per flag.
    The exact quantile rides along (Spark percentile == DuckDB
    quantile_cont bit-for-bit on int inputs, the q26 contract) for
    the honest rel_err column. Every step — binning, cumulative pick,
    edge reconstruction ((1<<f) + ceil(rem·2^f/1000)) — is exact
    integer math, DuckDB-hash-verified. Plan: one partial-agg count
    per (flag, bin); the cumulative window runs over BINS (bounded
    domain), never values — the tx23-cut shape for quantiles."""
    from ..functions import cents
    from ..operators.sketch import hist_quantiles, log_hist_bins

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        cents("l_extendedprice").alias("v"),
    )
    bins = log_hist_bins(li, "flag", "v").localCheckpoint(eager=True)
    est = hist_quantiles(bins, "flag", _Q45_QS)
    nb = bins.groupBy("flag").agg(F.count(F.lit(1)).cast("long").alias("n_bins"))
    ex = li.groupBy("flag").agg(
        F.expr("percentile(v, 0.5)").alias("p50"),
        F.expr("percentile(v, 0.95)").alias("p95"),
        F.expr("percentile(v, 0.99)").alias("p99"),
    )
    exact = (
        F.when(F.col("q") == "p50", F.col("p50"))
        .when(F.col("q") == "p95", F.col("p95"))
        .otherwise(F.col("p99"))
    )
    return (
        est.join(ex, "flag")
        .join(nb, "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            "q",
            F.col("est").alias("est_cents"),
            exact.alias("exact_cents"),
            (
                (F.col("est") - exact).cast("double") / exact
            ).alias("rel_err"),
            "n_bins",
        )
        .orderBy("l_returnflag", "q")
    )


# ---------------------------------------------------------------------------
# q46 — KMV error-vs-k calibration: measure the 1/√(k−1) error law on
# the real key distribution before sizing production sketches
# ---------------------------------------------------------------------------

_Q46_KS = (16, 64, 256)


def _q46_oracle() -> str:
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    p = KMV_P
    blocks, selects = [], []
    for k in _Q46_KS:
        num = (k - 1) * p
        blocks.append(f""", s{k} AS (
  SELECT MAX(nd) AS nd, MAX(CASE WHEN rn = {k} THEN h END) AS m_k
  FROM r WHERE rn <= {k}
)""")
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS k, e.exact_keys, "
            f"CAST(CASE WHEN s.nd < {k} THEN s.nd "
            f"ELSE {num} // s.m_k END AS BIGINT) AS kmv_keys, "
            f"CAST(ABS(CASE WHEN s.nd < {k} THEN s.nd "
            f"ELSE {num} // s.m_k END - e.exact_keys) AS DOUBLE) "
            f"/ e.exact_keys AS rel_err, "
            f"1.0 / SQRT({k} - 1) AS expected_rel_err "
            f"FROM s{k} s, e"
        )
    return f"""
WITH x AS (
  SELECT ((o_custkey % {p}) + {p}) % {p} AS x0
  FROM orders WHERE o_custkey IS NOT NULL
), h AS (
  SELECT DISTINCT
    ( ((x0*x0) % {p}) * {KMV_A} % {p}
      + (x0 * {KMV_B}) % {p}
      + {KMV_C} ) % {p} AS h
  FROM x
), r AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
         COUNT(*) OVER () AS nd
  FROM h
), e AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_keys
  FROM orders
){''.join(blocks)}
SELECT * FROM ({' UNION ALL '.join(selects)}) ORDER BY k
"""


@register("q46_kmv_error_vs_k", oracle=_q46_oracle())
def q46_kmv_error_vs_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sizing curve MEASURED on the real key distribution —
    the dd18 discipline applied to cardinality sketches: one hash
    pass over distinct order custkeys, then the estimator read at
    k = 16/64/256 (nested sketches: the k smallest hashes contain the
    16 smallest, so ONE ranked pass serves every k — exactly how the
    measurement stays cheap at 100 TB). Each row carries the measured
    rel_err next to the theoretical 1/√(k−1) standard error, so the
    operator sizing a production sketch (q43/q44's k, the
    streaming/kmv.py store) picks k from evidence, not folklore — a
    single hash draw can land well inside or outside one sigma, and
    seeing THIS corpus's draw is the point: measured at sf0.01
    (1,500 distinct keys) k=16 missed by 38.2% against a 25.8%
    standard error (a ~1.5σ draw — exactly why you never size from
    the formula alone), k=64 by 10.2% (12.6% expected), k=256 by
    4.1% (6.3%). Exact count rides along;
    every estimator branch is the integer math kmv_estimate pins, so
    the whole calibration is DuckDB-hash-verified. Plan: one distinct
    shuffle, then the max-k smallest hashes via orderBy+limit —
    Spark's distributed TakeOrdered, per-partition top-k then merge,
    NEVER a global rank window over the distinct set — ranked locally
    on ≤ 256 rows and read at three depths."""
    from pyspark.sql import Window

    from ..operators.sketch import KMV_P, kmv_hash

    orders = table(spark, sf_dir, "orders")
    h = (
        orders.where(F.col("o_custkey").isNotNull())
        .select(kmv_hash("o_custkey").alias("h"))
        .distinct()
    )
    nd_df = h.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    top = h.orderBy("h").limit(max(_Q46_KS))
    w = Window.orderBy("h")  # ≤ max(k) rows — bounded by construction
    r = (
        top.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(nd_df))
        .localCheckpoint(eager=True)
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_keys")
    )
    out = None
    for k in _Q46_KS:
        num = F.lit((k - 1) * KMV_P).cast("long")
        s = r.where(F.col("rn") <= k).agg(
            F.max("nd").cast("long").alias("nd"),
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("m_k"),
        )
        est = F.when(
            F.col("nd") < k, F.col("nd")
        ).otherwise(
            ((num - (num % F.col("m_k"))) / F.col("m_k")).cast("long")
        )
        row = s.crossJoin(F.broadcast(exact)).select(
            F.lit(k).cast("long").alias("k"),
            "exact_keys",
            est.alias("kmv_keys"),
            (
                F.abs(est - F.col("exact_keys")).cast("double")
                / F.col("exact_keys")
            ).alias("rel_err"),
            (F.lit(1.0) / F.sqrt(F.lit(float(k - 1)))).alias(
                "expected_rel_err"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# q48 — trailing-window distinct counts by KMV MERGE: the composition
# that justifies keeping sketches at all (rolling windows answered by
# sketch algebra, never a per-window rescan)
# ---------------------------------------------------------------------------

_Q48_K = 64
_Q48_HOURS = 24


def _q48_oracle() -> str:
    """GENERATED from the operator constants: per-hour KMV ranks (the
    q43 fragment keyed by integer hour index), the 24-target fanout of
    SKETCH rows, the k-min-of-distinct-union merge, and both estimator
    branches — kmv_sketch/kmv_merge/kmv_estimate replayed
    integer-for-integer, with the exact COUNT(DISTINCT) rider."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    k, p, w = _Q48_K, KMV_P, _Q48_HOURS
    num = (k - 1) * p
    return f"""
WITH x AS (
  SELECT epoch_ns(ts) // 3600000000000 AS hb,
         user_id,
         ((user_id % {p}) + {p}) % {p} AS x0
  FROM events WHERE user_id IS NOT NULL
), hh AS (
  SELECT DISTINCT hb,
    ( ((x0*x0) % {p}) * {KMV_A} % {p}
      + (x0 * {KMV_B}) % {p}
      + {KMV_C} ) % {p} AS h
  FROM x
), r AS (
  SELECT hb, h, ROW_NUMBER() OVER (PARTITION BY hb ORDER BY h) AS rn
  FROM hh
), sk AS (
  SELECT hb, h FROM r WHERE rn <= {k}
), tgt AS (
  SELECT DISTINCT hb AS t FROM x
), contrib AS (
  SELECT tg.t, sk.hb, sk.h
  FROM sk, unnest(range(sk.hb, sk.hb + {w})) AS u(t)
  JOIN tgt tg ON tg.t = u.t
), mh AS (
  SELECT DISTINCT t, h FROM contrib
), mr AS (
  SELECT t, h,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) AS rn,
         COUNT(*)    OVER (PARTITION BY t) AS nd
  FROM mh
), ms AS (
  SELECT t, MAX(nd) AS nd, MAX(CASE WHEN rn = {k} THEN h END) AS m_k
  FROM mr WHERE rn <= {k} GROUP BY t
), nh AS (
  SELECT t, CAST(COUNT(DISTINCT hb) AS BIGINT) AS n_hours FROM contrib GROUP BY t
), ue AS (
  SELECT DISTINCT hb, user_id FROM x
), ex AS (
  SELECT tg.t, CAST(COUNT(DISTINCT ue.user_id) AS BIGINT) AS exact_users
  FROM ue, unnest(range(ue.hb, ue.hb + {w})) AS u(t)
  JOIN tgt tg ON tg.t = u.t
  GROUP BY tg.t
)
SELECT ms.t AS hour_idx, nh.n_hours, ex.exact_users,
       CAST(CASE WHEN ms.nd < {k} THEN ms.nd ELSE {num} // ms.m_k END
            AS BIGINT) AS kmv_users,
       CAST(ABS(CASE WHEN ms.nd < {k} THEN ms.nd ELSE {num} // ms.m_k END
                - ex.exact_users) AS DOUBLE) / ex.exact_users AS rel_err
FROM ms JOIN nh USING (t) JOIN ex ON ex.t = ms.t
ORDER BY hour_idx
"""


@register("q48_kmv_rolling_distinct", oracle=_q48_oracle())
def q48_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour distinct users per hour, answered by KMV
    MERGE — the composition the mergeable-sketch family exists for:
    persist one O(k) sketch per hour, and ANY rolling window is the
    k-min-of-distinct-union of the hours it covers (exact merge, the
    q43/q44 identity) — the raw events are never rescanned per
    window. The exact COUNT(DISTINCT) rider rides along for the
    honest rel_err column and is itself the indictment: it refans the
    RAW EVENT stream 24× (720 windows × the full user set), which is
    precisely the 100 TB plan you cannot run, while the sketch side
    refans only O(hours·k) sketch rows — at sf0.01 that is 10,000
    events × 24 vs ≤ 720·64 longs. Measured here: hours are under-
    full (≤ ~20 users/hour, so per-hour sketches are EXACT and the
    merge is lossless until windows approach k=64); full 24-hour
    windows hold 124–143 of the 150 users, the estimator engages, and
    measured rel_err over the 697 full windows is 2.1% mean / 8.2%
    max — inside the 1/√(k−1) ≈ 12.6% envelope (q46's calibration). Window fanout is an EQUI-join (each sketch hour
    explodes its 24 target hours, then joins the observed-hour set —
    never a range theta-join/BNLJ, plan-guarded); ragged leading
    windows merge the hours that exist, n_hours says how many. Every
    stage — hour index (integer epoch division), hash, ranks, merge,
    both estimator branches — is exact int64, DuckDB-hash-verified."""
    from ..operators.sketch import kmv_estimate, kmv_sketch

    ev = (
        table(spark, sf_dir, "events")
        # Match the oracle's NULL handling independent of data: a NULL
        # user must not count as one distinct user, and hours holding
        # only NULL-user events must not become target windows.
        .where(F.col("user_id").isNotNull())
        .select(F.expr("unix_micros(ts) DIV 3600000000").alias("hb"), "user_id")
    )
    sk = kmv_sketch(ev, "hb", "user_id", k=_Q48_K)
    tgt = ev.select(F.col("hb").alias("t")).distinct()
    contrib = (
        sk.select(
            F.explode(F.sequence(F.col("hb"), F.col("hb") + _Q48_HOURS - 1)).alias("t"),
            "hb",
            "kmv",
        )
        .join(tgt, "t", "left_semi")
    )
    merged = contrib.groupBy("t").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1,
            _Q48_K,
        ).alias("kmv"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    ue = ev.distinct()
    exact = (
        ue.select(
            F.explode(F.sequence(F.col("hb"), F.col("hb") + _Q48_HOURS - 1)).alias("t"),
            "user_id",
        )
        .join(tgt, "t", "left_semi")
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_users"))
    )
    est = kmv_estimate("kmv", _Q48_K)
    return (
        merged.join(exact, "t")
        .select(
            F.col("t").alias("hour_idx"),
            "n_hours",
            "exact_users",
            est.alias("kmv_users"),
            (
                F.abs(est - F.col("exact_users")).cast("double")
                / F.col("exact_users").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("hour_idx")
    )


# ---------------------------------------------------------------------------
# q49 — Count-Min inner-product JOIN-SIZE estimation: the sketch-driven
# join planner primitive (AMS/CM, Cormode & Muthukrishnan 2005 §4.2).
# Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_Q49_DEPTH = 4
_Q49_WIDTHS = (16, 64, 256, 1024)


def _cm_mix_sql(h: str) -> str:
    """The row-stepped quadratic CM mix as DuckDB SQL over a key
    expression ``h`` and an in-scope depth-row column ``r`` —
    operators/sketch.py cm_mix replayed integer-for-integer. SHARED by
    the q49 and q53 oracles (the _race_sql single-source rule)."""
    from ..operators.sketch import (
        CM_A_STEP,
        CM_B_STEP,
        CM_C_STEP,
        KMV_A,
        KMV_B,
        KMV_C,
        KMV_P,
    )

    p = KMV_P
    x0 = f"((({h}) % {p}) + {p}) % {p}"
    a = f"(({KMV_A} + {CM_A_STEP} * r) % {p})"
    b = f"(({KMV_B} + {CM_B_STEP} * r) % {p})"
    c = f"(({KMV_C} + {CM_C_STEP} * r) % {p})"
    return (
        f"(((((({x0}) * ({x0})) % {p}) * {a}) % {p}"
        f" + ((({x0}) * {b}) % {p}) + {c}) % {p})"
    )


def _q49_oracle() -> str:
    """GENERATED from the operator constants: the row-stepped quadratic
    mix, per-width counter grids for BOTH key streams (g mod w directly
    — the grid cm_fold derives), the per-depth-row inner products and
    their min — operators/sketch.py cm_sketch/cm_fold/cm_inner_product
    replayed integer-for-integer, with the exact join-count rider."""
    mix = _cm_mix_sql

    width_ctes, selects = [], []
    for w in _Q49_WIDTHS:
        width_ctes.append(f"""ca{w} AS (
  SELECT r, g % {w} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ma GROUP BY 1, 2
), cb{w} AS (
  SELECT r, g % {w} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM mb GROUP BY 1, 2
), ip{w} AS (
  SELECT r, CAST(SUM(ca{w}.cnt * cb{w}.cnt) AS BIGINT) AS ip
  FROM ca{w} JOIN cb{w} USING (r, b) GROUP BY r
), est{w} AS (
  SELECT CAST(COALESCE(MIN(ip), 0) AS BIGINT) AS est_n FROM ip{w}
)""")
        selects.append(
            f"SELECT CAST({w} AS BIGINT) AS width, s.n_left, s.n_right,\n"
            f"       s.exact_n, e.est_n,\n"
            f"       e.est_n - s.exact_n AS over_n,\n"
            f"       CAST(e.est_n - s.exact_n AS DOUBLE) / s.exact_n AS rel_over,\n"
            f"       CAST((e.est_n * 1000) // s.n_left AS BIGINT) AS amp_est_milli\n"
            f"FROM est{w} e CROSS JOIN stats s"
        )
    return f"""
WITH ea AS (
  SELECT user_id AS k FROM events WHERE user_id IS NOT NULL
), ob AS (
  SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
),
ma AS (
  SELECT r, {mix('k')} AS g FROM ea, unnest(range(0, {_Q49_DEPTH})) AS d(r)
),
mb AS (
  SELECT r, {mix('k')} AS g FROM ob, unnest(range(0, {_Q49_DEPTH})) AS d(r)
),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ea) AS n_left,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ob) AS n_right,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM ea JOIN ob ON ea.k = ob.k)  AS exact_n
),
{', '.join(width_ctes)}
SELECT * FROM ({' UNION ALL '.join(selects)})
ORDER BY width
"""


@register("q49_cm_join_cardinality", oracle=_q49_oracle())
def q49_cm_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join OUTPUT-SIZE estimation from two Count-Min grids —
    the sketch family applied to the planner question itself: how big
    is events JOIN orders on user key, BEFORE running it? |A JOIN B| =
    sum_k f_A(k) * f_B(k) is exactly the inner product of the two key
    frequency vectors, and two O(depth*width) CM grids (built on
    independent scans that never see each other, or MERGED by cell
    addition from per-day/per-source grids — the q47 mergeability
    story) estimate it as min over depth rows of the cell-wise
    product sum. Every depth row is a GUARANTEED overestimate
    (collision cross-terms only add — test-pinned), expected slack
    |A|*|B|/width per row; the min tightens it. At 100 TB this is the
    broadcast-vs-shuffle/runaway-join veto: the exact answer costs
    the very shuffle you are deciding whether to run, the sketch
    answer costs two map-side-combined scans you already paid for
    ingest stats.

    Four widths measure the error law on real FK multiplicities
    (events.user_id x orders.o_custkey, a genuine many-to-many pair:
    exact join 95,614 at sf0.01 vs naive |A|*|B| = 150M). Measured at
    sf0.01 the overestimate tracks the |A|*|B|/width slack bound
    almost exactly — over_n 9.14M / 2.22M / 530k / 120k at width
    16/64/256/1024, a clean /4 per 4x width against the bound's
    9.4M/2.3M/586k/146k — which is the honest sizing rule this query
    exists to pin: CM inner-product error is ADDITIVE in |A|*|B|/w,
    so a width-1024 grid prices THIS join to 2.3x truth (est 216k vs
    95.6k) — the right ORDER OF MAGNITUDE for a broadcast-vs-shuffle
    or runaway-veto decision, not a tight count; tightness to eps
    needs width ~ |A|*|B| / (eps * |A JOIN B|). The 1024 grids are
    built ONCE per side; narrower widths are FOLDED from them
    (cm_fold, one bounded aggregate — one scan per side prices every
    resolution). amp_est_milli = est*1000 div |A| is the estimated
    per-row fan-out a planner thresholds on. The exact rider is the
    calibration (q48's pattern) — production keeps only the sketch
    side. Every stage is exact int64, DuckDB-hash-verified."""
    from ..operators.sketch import cm_fold, cm_inner_product, cm_sketch

    # Each key projection feeds THREE consumers (its grid, its count,
    # the exact rider's join) — checkpoint the 1-column streams once
    # instead of re-scanning parquet per consumer (A/B'd at sf0.1).
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("k"))
        .localCheckpoint(eager=True)
    )
    od = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey").isNotNull())
        .select(F.col("o_custkey").alias("k"))
        .localCheckpoint(eager=True)
    )
    wmax = max(_Q49_WIDTHS)
    ska = {wmax: cm_sketch(ev, "k", _Q49_DEPTH, wmax).localCheckpoint(eager=True)}
    skb = {wmax: cm_sketch(od, "k", _Q49_DEPTH, wmax).localCheckpoint(eager=True)}
    widths = sorted(_Q49_WIDTHS, reverse=True)
    for w_from, w_to in zip(widths, widths[1:]):
        ska[w_to] = cm_fold(ska[w_from], w_from, w_to)
        skb[w_to] = cm_fold(skb[w_from], w_from, w_to)
    stats = (
        ev.agg(F.count(F.lit(1)).cast("long").alias("n_left"))
        .crossJoin(od.agg(F.count(F.lit(1)).cast("long").alias("n_right")))
        .crossJoin(
            ev.join(od, "k").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        )
        .localCheckpoint(eager=True)
    )
    out = None
    for w in _Q49_WIDTHS:
        row = (
            cm_inner_product(ska[w], skb[w], out_col="est_n")
            .crossJoin(stats)
            .select(
                F.lit(w).cast("long").alias("width"),
                "n_left",
                "n_right",
                "exact_n",
                "est_n",
                (F.col("est_n") - F.col("exact_n")).alias("over_n"),
                (
                    (F.col("est_n") - F.col("exact_n")).cast("double")
                    / F.col("exact_n").cast("double")
                ).alias("rel_over"),
                F.expr("CAST((est_n * 1000) DIV n_left AS BIGINT)").alias(
                    "amp_est_milli"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("width")


# ---------------------------------------------------------------------------
# q50 — grouped exact least-squares trend (integer OLS slope): the
# drift/activity-trend aggregate. Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_Q50_ORACLE = """
WITH x AS (
  SELECT user_id, epoch_ns(ts) // 3600000000000 AS hb
  FROM events WHERE user_id IS NOT NULL
), mn AS (
  SELECT MIN(hb) AS m FROM x
), h AS (
  SELECT user_id, hb - (SELECT m FROM mn) AS xx,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM x GROUP BY user_id, hb
), a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT)      AS n,
         CAST(SUM(xx) AS BIGINT)       AS sx,
         CAST(SUM(y) AS BIGINT)        AS sy,
         CAST(SUM(xx * y) AS BIGINT)   AS sxy,
         CAST(SUM(xx * xx) AS BIGINT)  AS sxx
  FROM h GROUP BY user_id
), b AS (
  SELECT user_id, n, sy,
         ABS(n * sxy - sx * sy) AS mag,
         CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END AS sgn,
         n * sxx - sx * sx AS den
  FROM a WHERE n >= 2
), ld AS (
  SELECT user_id, n, sy, sgn, den,
         (mag * 1000) // den AS q1, (mag * 1000) % den AS r1
  FROM b
), ld2 AS (
  SELECT user_id, n, sy, sgn, den, q1,
         (r1 * 1000) // den AS q2, (r1 * 1000) % den AS r2
  FROM ld
)
SELECT user_id, n AS n_hours, sy AS sum_events,
       CAST(sgn * (q1 * 1000000 + q2 * 1000 + (r2 * 1000) // den)
            AS BIGINT) AS slope_nano
FROM ld2
ORDER BY user_id
"""


@register("q50_activity_trend", oracle=_Q50_ORACLE)
def q50_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity TREND: the exact ordinary-least-squares slope
    of hourly event counts over time, in integer NANO-events/hour —
    the drift aggregate (is a user/source/shard heating up or cooling
    off?) that dashboards compute in floats and then can never
    reproduce. Closed-form OLS needs only the five classic sums
    (n, Σx, Σy, Σxy, Σx²) — exact int64 after rebasing hours to the
    corpus minimum (slope is shift-invariant; the rebase bounds
    n·Σx²) — giving slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²).

    Two integer-determinism conventions are pinned here (and in
    test_parity): (1) the numerator can be NEGATIVE — Spark DIV and
    DuckDB // both truncate toward zero (test-pinned), but Python's
    // FLOORS, so the division runs on |num| with the sign re-applied,
    a floor/trunc-agnostic form that every twin (SQL, Python, any
    future engine) reproduces identically; (2) the nano scaling
    (real slopes here are ~1e-4 events/hour — a first cut at milli
    hash-matched while returning ALL ZEROS, the audit_rowcounts
    trap in its subtlest form: non-empty, hash-green, vacuous) would
    overflow int64 as num·1e9, so the quotient is built by LONG
    DIVISION — three ·1000 steps, each dividing the previous
    REMAINDER, every intermediate bounded by den·1000. Measured at
    sf0.01: slopes span −432k…+293k nano, mean |slope| ≈ 97k.

    Plan shape: one (user, hour) pre-aggregation (map-side combined),
    one per-user aggregation of the five sums — two key shuffles
    total; the global hour rebase is a 1-row aggregate broadcast into
    the projection. Single-hour users are excluded (den = 0: a trend
    needs two points). No window, no sort, constant per-group
    state."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) DIV 3600000000").alias("hb"),
        )
    )
    mn = ev.agg(F.min("hb").alias("m"))
    hourly = (
        ev.groupBy("user_id", "hb")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .crossJoin(F.broadcast(mn))
        .select("user_id", (F.col("hb") - F.col("m")).alias("xx"), "y")
    )
    a = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xx").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("xx") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("xx") * F.col("xx")).cast("long").alias("sxx"),
    )

    def idiv(x, d):
        return ((x - (x % d)) / d).cast("long")

    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    b = a.where(F.col("n") >= 2).select(
        "user_id",
        F.col("n").alias("n_hours"),
        F.col("sy").alias("sum_events"),
        F.abs(num).alias("mag"),
        F.when(num < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long").alias("sgn"),
        den.alias("den"),
    )
    d = F.col("den")
    ld = b.select(
        "user_id", "n_hours", "sum_events", "sgn", "den",
        idiv(F.col("mag") * 1000, d).alias("q1"),
        (F.col("mag") * 1000 % d).alias("r1"),
    )
    ld2 = ld.select(
        "user_id", "n_hours", "sum_events", "sgn", "den", "q1",
        idiv(F.col("r1") * 1000, d).alias("q2"),
        (F.col("r1") * 1000 % d).alias("r2"),
    )
    return ld2.select(
        "user_id",
        "n_hours",
        "sum_events",
        (
            F.col("sgn")
            * (
                F.col("q1") * 1_000_000
                + F.col("q2") * 1000
                + idiv(F.col("r2") * 1000, d)
            )
        ).alias("slope_nano"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q51 — KMV-priced AGGREGATION output size: q49's planner question for
# group-bys. Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_Q51_KS = (64, 256)
_Q51_SHIFT = 1 << 20  # composite-key stride; hour offsets must fit


def _q51_oracle() -> str:
    """GENERATED from the operator constants: the injective composite
    key (user · 2^20 + rebased hour), ONE distinct-hash rank chain,
    and both k-prefix estimators (the k-min-of-union identity: the
    k=64 sketch is the first 64 of the k=256 ranks) — kmv_hash /
    kmv_estimate replayed integer-for-integer, with the exact
    COUNT(DISTINCT) rider."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    p = KMV_P
    selects = []
    for k in _Q51_KS:
        num = (k - 1) * p
        selects.append(f"""SELECT CAST({k} AS BIGINT) AS k, e.n_exact,
       CAST(CASE WHEN s.nd < {k} THEN s.nd ELSE {num} // s.m{k} END
            AS BIGINT) AS kmv_groups,
       CAST(ABS(CASE WHEN s.nd < {k} THEN s.nd ELSE {num} // s.m{k} END
                - e.n_exact) AS DOUBLE) / e.n_exact AS rel_err
FROM s CROSS JOIN e""")
    picks = ",\n         ".join(
        f"MAX(CASE WHEN rn = {k} THEN h END) AS m{k}" for k in _Q51_KS
    )
    return f"""
WITH x AS (
  SELECT user_id, epoch_ns(ts) // 3600000000000 AS hb
  FROM events WHERE user_id IS NOT NULL
), mn AS (
  SELECT MIN(hb) AS m FROM x
), ck AS (
  SELECT user_id * {_Q51_SHIFT} + (hb - (SELECT m FROM mn)) AS c FROM x
), h AS (
  SELECT DISTINCT
    ( ((x0*x0) % {p}) * {KMV_A} % {p}
      + (x0 * {KMV_B}) % {p}
      + {KMV_C} ) % {p} AS h
  FROM (SELECT ((c % {p}) + {p}) % {p} AS x0 FROM ck)
), r AS (
  SELECT h,
         ROW_NUMBER() OVER (ORDER BY h) AS rn,
         COUNT(*)    OVER ()            AS nd
  FROM h
), s AS (
  SELECT MAX(nd) AS nd,
         {picks}
  FROM r WHERE rn <= {max(_Q51_KS)}
), e AS (
  SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_exact FROM ck
)
SELECT * FROM ({' UNION ALL '.join(selects)})
ORDER BY k
"""


@register("q51_kmv_agg_size", oracle=_q51_oracle())
def q51_kmv_agg_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGGREGATION output-size estimation from a KMV sketch — q49's
    planner question asked of a group-by: how many (user, hour)
    groups will `events.groupBy(user_id, hour)` produce, BEFORE
    running it? The group count is COUNT(DISTINCT composite key), so
    one O(k) KMV sketch of user·2^20 + rebased-hour prices the
    shuffle's reduce-side cardinality — together with q49 (join
    output) the sketch family now prices both shuffle-producing
    operators from summaries a 100 TB pipeline keeps anyway. The
    composite key is INJECTIVE by construction: the hour offset is
    guarded per row against the 2^20 stride (raise_error, never a
    silent wrap — a wrapped key would alias two groups and
    undercount).

    ONE distinct-hash rank chain serves both k values (the k=64
    sketch is the first 64 ranks of the k=256 chain — the
    k-min-of-union identity): measured at sf0.01 over 9,567 exact
    groups, k=64 estimates 10,811 (+13.0%, at the 1/sqrt(63) ~ 12.6%
    envelope) and k=256 lands 9,565 (-0.02%). Exact rider for
    calibration only (q43/q48's pattern). Every stage exact int64,
    DuckDB-hash-verified."""
    from ..operators.sketch import KMV_P, kmv_hash

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) DIV 3600000000").alias("hb"),
        )
    )
    mn = ev.agg(F.min("hb").alias("m"))
    off = F.col("hb") - F.col("m")
    ck = (
        ev.crossJoin(F.broadcast(mn))
        .select(
            F.when(
                off < _Q51_SHIFT, F.col("user_id") * _Q51_SHIFT + off
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "q51 composite key: hour offset exceeds the 2^20 "
                        "stride — a wrapped key would alias two groups"
                    )
                ).cast("long")
            )
            .alias("c")
        )
        .localCheckpoint(eager=True)
    )
    kmax = max(_Q51_KS)
    from pyspark.sql import Window

    ranked = (
        ck.select(kmv_hash("c").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy()))
        .where(F.col("rn") <= kmax)
        .localCheckpoint(eager=True)
    )
    exact = ck.agg(F.countDistinct("c").cast("long").alias("n_exact"))
    out = None
    for k in _Q51_KS:
        num = F.lit((k - 1) * KMV_P).cast("long")
        mk = F.max(F.when(F.col("rn") == k, F.col("h")))
        s = ranked.agg(
            F.max("nd").alias("nd"), mk.alias("mk")
        )
        est = F.when(
            F.col("nd") < k, F.col("nd")
        ).otherwise(
            ((num - (num % F.col("mk"))) / F.col("mk")).cast("long")
        )
        row = s.crossJoin(F.broadcast(exact)).select(
            F.lit(k).cast("long").alias("k"),
            "n_exact",
            est.cast("long").alias("kmv_groups"),
            (
                F.abs(est - F.col("n_exact")).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("rel_err"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# q52 — bucketed-storage join locality: the shuffle-free fact-fact join
# ---------------------------------------------------------------------------

_Q52_ORACLE = """
SELECT
  o_orderpriority,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q52_bucketed_join", oracle=_Q52_ORACLE)
def q52_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority through PRE-BUCKETED silver storage —
    the one 100-TB join-locality pattern the engine demonstrated
    nowhere before round 11: both fact sides land as hash-bucketed,
    per-bucket-sorted parquet tables on the join key
    (``operators/layout.py bucketed_fact_join``), so the sort-merge
    join runs with ZERO Exchange on either side (plan-guarded; the
    residual Sort is partition-local — see the operator docstring).
    The write's single repartition-to-buckets shuffle
    is the whole price, amortized over every later join on the same
    key — the OSS analog of the reference's Liquid-Clustering layout
    story (`02_silver_processing.py:148`) applied to join locality
    rather than scan pruning.

    The answer is identical to the plain shuffled join (this oracle
    joins the RAW parquet in DuckDB — bucketing is a physical-layout
    choice, not a semantic one; A/B timed in bench.py's
    ``bucketed_join`` scenario). Table names carry the sf tag so
    sweeps at different scales never read each other's layout."""
    import re as _re

    from ..operators.layout import bucketed_fact_join

    tag = _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = bucketed_fact_join(
        spark, li, orders, "l_orderkey", "o_orderkey", f"q52_{tag}", n_buckets=8
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            (F.sum(rev).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q53 — the sketch-driven JOIN-STRATEGY CHOOSER: q49's estimator wired
# into the decision it exists for (the ss34 closed-loop rule applied to
# the planner pair). Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_Q53_DEPTH, _Q53_WIDTH = 4, 1024
_Q53_BROADCAST_ROWS = 5_000  # rows under which a side broadcasts
_Q53_VETO_AMP_MILLI = 20_000  # est_out/max_side ≥ 20× vetoes the join

# (pair, left table.key, right table.key) — three candidate joins
# chosen to land in three different decision branches at sf0.01.
_Q53_PAIRS = (
    ("customer_orders", ("customer", "c_custkey"), ("orders", "o_custkey")),
    ("lineitem_orders", ("lineitem", "l_orderkey"), ("orders", "o_orderkey")),
    ("events_events", ("events", "user_id"), ("events", "user_id")),
)


def _q53_oracle() -> str:
    mix = _cm_mix_sql
    blocks, selects = [], []
    for name, (lt, lk), (rt, rk) in _Q53_PAIRS:
        blocks.append(f"""pa_{name} AS (
  SELECT {lk} AS k FROM {lt} WHERE {lk} IS NOT NULL
), pb_{name} AS (
  SELECT {rk} AS k FROM {rt} WHERE {rk} IS NOT NULL
), ma_{name} AS (
  SELECT r, {mix('k')} AS g
  FROM pa_{name}, unnest(range(0, {_Q53_DEPTH})) AS d(r)
), mb_{name} AS (
  SELECT r, {mix('k')} AS g
  FROM pb_{name}, unnest(range(0, {_Q53_DEPTH})) AS d(r)
), ca_{name} AS (
  SELECT r, g % {_Q53_WIDTH} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ma_{name} GROUP BY 1, 2
), cb_{name} AS (
  SELECT r, g % {_Q53_WIDTH} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM mb_{name} GROUP BY 1, 2
), ip_{name} AS (
  SELECT r, CAST(SUM(ca_{name}.cnt * cb_{name}.cnt) AS BIGINT) AS ip
  FROM ca_{name} JOIN cb_{name} USING (r, b) GROUP BY r
), st_{name} AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pa_{name}) AS n_left,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pb_{name}) AS n_right,
         (SELECT CAST(COALESCE(MIN(ip), 0) AS BIGINT) FROM ip_{name}) AS est_n
)""")
        selects.append(f"""SELECT '{name}' AS pair, n_left, n_right, est_n,
       CAST((est_n * 1000) // GREATEST(n_left, n_right) AS BIGINT)
         AS amp_est_milli,
       CASE WHEN LEAST(n_left, n_right) <= {_Q53_BROADCAST_ROWS}
              THEN 'broadcast'
            WHEN (est_n * 1000) // GREATEST(n_left, n_right)
                   >= {_Q53_VETO_AMP_MILLI}
              THEN 'veto_runaway'
            ELSE 'shuffle_smj' END AS decision
FROM st_{name}""")
    return f"""
WITH {', '.join(blocks)}
SELECT * FROM ({' UNION ALL '.join(selects)})
ORDER BY pair
"""


@register("q53_join_strategy_chooser", oracle=_q53_oracle())
def q53_join_strategy_chooser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision q49's estimator exists for, CLOSED-LOOP (the ss34
    chooser rule applied to the planner pair): for each candidate
    equi-join, price it from statistics a 100 TB planner can afford —
    two row counts (free at ingest) and a width-1024 Count-Min
    inner-product output estimate (two map-side-combined scans, q49's
    primitive) — then choose:

      broadcast     if the smaller side fits the broadcast budget
                    (≤ 5,000 rows here — the toy-scale stand-in for
                    Spark's autoBroadcastJoinThreshold);
      veto_runaway  if the estimated output exceeds 20× the larger
                    input (the fan-out that melts a shuffle at scale
                    — the runaway-join veto, caught BEFORE paying the
                    shuffle the exact answer would cost);
      shuffle_smj   otherwise.

    Three candidates land in three branches at sf0.01, each decision
    sketch-driven and hash-pinned: customer⋈orders → broadcast (1,500
    rows broadcast-able; est 35,885 vs exact 15,000), lineitem⋈orders
    → shuffle_smj (both sides big; amp 15,640 milli), events⋈events
    on user_id → veto_runaway (self-join on hot keys: est ≈ Σf²,
    amp 71,230 milli ≈ 71×). The CM-overestimate guarantee that makes
    q49 honest makes the VETO safe-side here: the sketch only
    overestimates output, so a passed join was genuinely small —
    while a veto can be a FALSE positive by up to the |A|·|B|/width
    slack. The lineitem⋈orders row measures exactly that pressure:
    est 938k vs exact 60k is almost pure slack (60k·15k/1024 ≈ 878k),
    putting amp at 15.6× against the 20× veto — the honest sizing
    rule the chooser inherits from q49 is that width must scale with
    |A|·|B|/(amp_budget·max_side) or growing inputs silently veto
    everything. Thresholds are pinned constants; decisions recompute
    per corpus (at sf0.1 customer outgrows the broadcast budget — the
    data-driven point of a chooser).

    Scale shape: per pair, two 1-column scans → depth×width grids
    (map-side combined) → a grid-sized product join; no candidate
    join is ever executed. Oracle GENERATED from the same operator
    constants via the shared _cm_mix_sql fragment. The three pairs
    are independent chains (each pays two eager checkpoint scans) —
    run on concurrent driver threads, the q55/pq_codebooks §2.6
    pattern; the final union re-orders by pair name."""
    from functools import partial, reduce

    from ..operators.sketch import cm_inner_product, cm_sketch
    from ..session import run_concurrently

    def _pair_row(spec):
        name, (lt, lk), (rt, rk) = spec
        left = (
            table(spark, sf_dir, lt)
            .where(F.col(lk).isNotNull())
            .select(F.col(lk).alias("k"))
            .localCheckpoint(eager=True)
        )
        right = (
            table(spark, sf_dir, rt)
            .where(F.col(rk).isNotNull())
            .select(F.col(rk).alias("k"))
            .localCheckpoint(eager=True)
        )
        ska = cm_sketch(left, "k", _Q53_DEPTH, _Q53_WIDTH)
        skb = cm_sketch(right, "k", _Q53_DEPTH, _Q53_WIDTH)
        stats = (
            left.agg(F.count(F.lit(1)).cast("long").alias("n_left"))
            .crossJoin(
                right.agg(F.count(F.lit(1)).cast("long").alias("n_right"))
            )
        )
        amp = F.expr(
            "CAST((est_n * 1000) DIV GREATEST(n_left, n_right) AS BIGINT)"
        )
        row = (
            cm_inner_product(ska, skb, out_col="est_n")
            .crossJoin(stats)
            .select(
                F.lit(name).alias("pair"),
                "n_left",
                "n_right",
                "est_n",
                amp.alias("amp_est_milli"),
                F.when(
                    F.least("n_left", "n_right") <= _Q53_BROADCAST_ROWS,
                    F.lit("broadcast"),
                )
                .when(
                    amp >= _Q53_VETO_AMP_MILLI, F.lit("veto_runaway")
                )
                .otherwise(F.lit("shuffle_smj"))
                .alias("decision"),
            )
        )
        return row

    rows = run_concurrently(*(partial(_pair_row, s) for s in _Q53_PAIRS))
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy("pair")


# ---------------------------------------------------------------------------
# q54 — distinct-count ROLLUP CASCADE from merged KMV sketches: tj02's
# re-aggregation pattern applied to a NON-additive measure. Registered
# in OVERFLOW.
# ---------------------------------------------------------------------------

_Q54_K = 64


def _q54_oracle() -> str:
    """GENERATED from the operator constants: per-user hash, per-hour
    k-min sketches, day sketches as k-min-of-union of their hours,
    period sketches as k-min-of-union of their days (kmv_merge
    replayed via list ops), the estimator per level, exact riders."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    k, p = _Q54_K, KMV_P
    num = (k - 1) * p
    est = (
        f"CAST(CASE WHEN len(sk) < {k} THEN len(sk) "
        f"ELSE {num} // sk[{k}] END AS BIGINT)"
    )
    return f"""
WITH ev AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 3600000000000 AS hr
  FROM events WHERE user_id IS NOT NULL
), uh AS (
  SELECT user_id,
         ( ((x0*x0) % {p}) * {KMV_A} % {p}
           + (x0 * {KMV_B}) % {p}
           + {KMV_C} ) % {p} AS h
  FROM (SELECT DISTINCT user_id, ((user_id % {p}) + {p}) % {p} AS x0 FROM ev)
), hsk AS (
  SELECT hr, list(h ORDER BY h) AS sk FROM (
    SELECT e.hr, u.h,
           ROW_NUMBER() OVER (PARTITION BY e.hr ORDER BY u.h) AS rn
    FROM ev e JOIN uh u USING (user_id)
  ) WHERE rn <= {k} GROUP BY hr
), dsk AS (
  SELECT hr // 24 AS d,
         list_sort(list_distinct(flatten(list(sk))))[1:{k}] AS sk
  FROM hsk GROUP BY hr // 24
), psk AS (
  SELECT d // 30 AS pd,
         list_sort(list_distinct(flatten(list(sk))))[1:{k}] AS sk
  FROM dsk GROUP BY d // 30
), exh AS (
  SELECT hr, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY hr
), exd AS (
  SELECT hr // 24 AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY hr // 24
), exp2 AS (
  SELECT hr // 720 AS pd, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY hr // 720
)
SELECT * FROM (
  SELECT 'hour' AS level, CAST(h.hr AS BIGINT) AS bucket, e.exact_users,
         {est} AS kmv_users,
         {est} - e.exact_users AS err
  FROM hsk h JOIN exh e USING (hr)
  UNION ALL
  SELECT 'day' AS level, CAST(ds.d AS BIGINT) AS bucket, e.exact_users,
         {est} AS kmv_users,
         {est} - e.exact_users AS err
  FROM dsk ds JOIN exd e USING (d)
  UNION ALL
  SELECT 'period' AS level, CAST(ps.pd AS BIGINT) AS bucket, e.exact_users,
         {est} AS kmv_users,
         {est} - e.exact_users AS err
  FROM psk ps JOIN exp2 e USING (pd)
)
ORDER BY level, bucket
"""


@register("q54_kmv_rollup_cascade", oracle=_q54_oracle())
def q54_kmv_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user counts at hour → day → 30-day-period grain, the
    coarse levels RE-AGGREGATED from the fine level's SKETCHES — tj02's
    continuous-aggregate cascade applied to the measure it cannot
    handle: COUNT(DISTINCT) is not additive (a user active in 20 hours
    is one daily user), so an exact cascade must rescan raw at every
    grain, while KMV sketches merge EXACTLY (k-min-of-union,
    operators/sketch.py kmv_merge — associative/commutative/
    idempotent). Raw events are scanned ONCE for the hourly sketches;
    days merge their hours' arrays, periods merge their days' — the
    q48 rolling-window refan generalized to a grain hierarchy, and the
    reason a 100 TB metrics stack persists sketch columns in its
    hourly silver instead of distinct counts. Exact riders at every
    level pin the integer err per bucket: under-full sketches are
    EXACT by construction; only buckets whose distinct count passes
    k = 64 pay the ~1/√k estimating noise. MEASURED at sf0.01: all
    720 hourly buckets sit in the exact regime (err 0 — hours hold
    < 64 distinct users), 28 of 30 days estimate with max |err| 11
    (≈ 8 % of ~140 daily users, inside 1/√64), and the two 30-day
    periods land within ±1 of exact — the estimator error does NOT
    compound through the merge levels, because merging is exact and
    only the final estimate pays the noise.

    Plan shape: one distinct (user, hour) pass → per-hour rank window
    over DISTINCT hashes; each rollup level is ONE groupBy over
    SKETCH rows (array merge in codegen — flatten + array_distinct +
    sort + slice), never a raw rescan; exact riders are three keyed
    distinct aggregations that exist for calibration only."""
    from ..operators.sketch import kmv_estimate, kmv_sketch

    k = _Q54_K
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(ts) DIV 3600000000").alias("hr"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hsk = kmv_sketch(ev, "hr", "user_id", k=k).localCheckpoint(eager=True)
    merge_agg = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
        1,
        k,
    ).alias("kmv")
    dsk = (
        hsk.groupBy(F.expr("hr DIV 24").alias("bucket"))
        .agg(merge_agg)
        .localCheckpoint(eager=True)
    )
    psk = dsk.groupBy(F.expr("bucket DIV 30").alias("bucket")).agg(merge_agg)

    def level(name, sk_df, exact_df):
        est = kmv_estimate("kmv", k)
        return (
            sk_df.join(exact_df, "bucket")
            .select(
                F.lit(name).alias("level"),
                F.col("bucket").cast("long").alias("bucket"),
                "exact_users",
                est.alias("kmv_users"),
                (est - F.col("exact_users")).alias("err"),
            )
        )

    def exact(grain_expr):
        return ev.groupBy(grain_expr.alias("bucket")).agg(
            F.countDistinct("user_id").cast("long").alias("exact_users")
        )

    out = (
        level("hour", hsk.withColumnRenamed("hr", "bucket"), exact(F.col("hr")))
        .unionByName(level("day", dsk, exact(F.expr("hr DIV 24"))))
        .unionByName(level("period", psk, exact(F.expr("hr DIV 720"))))
    )
    return out.orderBy("level", "bucket")


# ---------------------------------------------------------------------------
# q55 — q53's width loop CLOSED (r11 verdict #3): the CM width is chosen
# FROM DATA — q43's KMV distinct counts size the grid so the |A|·|B|/w
# slack term stays below the veto margin — via q47's width-folding
# identity, entirely in-plan. Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_Q55_KMV_K = 256          # global distinct-count sketch size per side
_Q55_SUPER_WIDTH = 65_536  # one wide pass prices every narrower width
_Q55_WIDTHS = tuple(64 * 2**i for i in range(11))  # 64 .. 65536
_Q55_CELLS_PER_KEY = 4    # width target: ≥ 4 cells per distinct key


def _q55_oracle() -> str:
    """GENERATED from the operator constants (the ss29/mm06 rule):
    KMV hash + rank + estimator per side (q43's fragments), the width
    pick, the row-stepped CM mixes (shared _cm_mix_sql), ONE
    super-width grid per side folded to every candidate width (the
    cm_fold identity g%w == (g%W)%w stated directly in SQL), inner
    products, and the q53 decision CASE — integer-for-integer."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    mix = _cm_mix_sql
    k, p, cpk = _Q55_KMV_K, KMV_P, _Q55_CELLS_PER_KEY
    num = (k - 1) * p
    kmvh = (
        f"( ((x0*x0) % {p}) * {KMV_A} % {p}"
        f" + (x0 * {KMV_B}) % {p} + {KMV_C} ) % {p}"
    )
    vals = ", ".join(f"({w})" for w in _Q55_WIDTHS)
    blocks, selects = [], []
    for name, (lt, lk), (rt, rk) in _Q53_PAIRS:
        for side, t, c in (("a", lt, lk), ("b", rt, rk)):
            blocks.append(f"""p{side}_{name} AS (
  SELECT {c} AS k FROM {t} WHERE {c} IS NOT NULL
), h{side}_{name} AS (
  SELECT DISTINCT {kmvh} AS h
  FROM (SELECT DISTINCT ((k % {p}) + {p}) % {p} AS x0 FROM p{side}_{name})
), r{side}_{name} AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn, COUNT(*) OVER () AS nd
  FROM h{side}_{name}
), s{side}_{name} AS (
  SELECT MAX(nd) AS nd, MAX(CASE WHEN rn = {k} THEN h END) AS m_k
  FROM r{side}_{name} WHERE rn <= {k}
), d{side}_{name} AS (
  SELECT CAST(CASE WHEN nd < {k} THEN nd ELSE {num} // m_k END AS BIGINT)
    AS d_{side} FROM s{side}_{name}
), m{side}_{name} AS (
  SELECT r, {mix('k')} AS g
  FROM p{side}_{name}, unnest(range(0, {_Q53_DEPTH})) AS d(r)
), cW{side}_{name} AS (
  SELECT r, g % {_Q55_SUPER_WIDTH} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM m{side}_{name} GROUP BY 1, 2
), f{side}_{name} AS (
  SELECT wv.w AS width, r, b % wv.w AS b2, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM cW{side}_{name}, widths wv GROUP BY 1, 2, 3
)""")
        blocks.append(f"""wch_{name} AS (
  SELECT CAST(COALESCE(MIN(w), {_Q55_SUPER_WIDTH}) AS BIGINT) AS width
  FROM widths, da_{name}, db_{name}
  WHERE w >= {cpk} * GREATEST(d_a, d_b)
), ipw_{name} AS (
  SELECT fa_{name}.width, fa_{name}.r AS r,
         CAST(SUM(fa_{name}.cnt * fb_{name}.cnt) AS BIGINT) AS ip
  FROM fa_{name} JOIN fb_{name}
    ON fa_{name}.width = fb_{name}.width AND fa_{name}.r = fb_{name}.r
       AND fa_{name}.b2 = fb_{name}.b2
  GROUP BY 1, 2
), ew_{name} AS (
  SELECT width, CAST(MIN(ip) AS BIGINT) AS est_n FROM ipw_{name} GROUP BY width
), st_{name} AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pa_{name}) AS n_left,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pb_{name}) AS n_right
)""")
        selects.append(f"""SELECT '{name}' AS pair, n_left, n_right,
       d_a AS d_left, d_b AS d_right, width, est_n,
       CAST((est_n * 1000) // GREATEST(n_left, n_right) AS BIGINT)
         AS amp_est_milli,
       CAST((LEAST(n_left, n_right) * 1000) // width AS BIGINT)
         AS slack_bound_milli,
       CASE WHEN LEAST(n_left, n_right) <= {_Q53_BROADCAST_ROWS}
              THEN 'broadcast'
            WHEN (est_n * 1000) // GREATEST(n_left, n_right)
                   >= {_Q53_VETO_AMP_MILLI}
              THEN 'veto_runaway'
            ELSE 'shuffle_smj' END AS decision
FROM ew_{name} JOIN wch_{name} USING (width),
     st_{name}, da_{name}, db_{name}""")
    return f"""
WITH widths AS (SELECT w FROM (VALUES {vals}) AS t(w)),
{', '.join(blocks)}
SELECT * FROM ({' UNION ALL '.join(selects)})
ORDER BY pair
"""


@register("q55_width_sized_chooser", oracle=_q55_oracle())
def q55_width_sized_chooser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53's own docstring indicts its fixed width: at 1024 the
    lineitem⋈orders estimate carried 15.6× pure |A|·|B|/width slack
    against the 20× veto — "width must scale or growth silently
    vetoes everything". This closes the loop by choosing the width
    FROM DATA, composing three existing surfaces, all in-plan:

    1. q43's KMV sketch (k=256, the map-side-combined partial form)
       estimates the DISTINCT keys per side — the statistic that
       actually determines collision mass (row counts don't: a
       billion rows over a thousand keys needs a thousand cells, not
       a billion).
    2. width = smallest power of two ≥ 4·max(d_left, d_right)
       (capped at 65,536): ≥ 4 cells per distinct key makes most
       cells singletons, so the inner product approaches the exact
       join size from above.
    3. q47's folding identity prices EVERY candidate width from ONE
       super-width grid per side (g%w == (g%W)%w for w | W): the
       corpus is scanned once per side; the 11-candidate fold is a
       bounded grid aggregation, and the chosen-width row is selected
       by a 1-row equi-join — no re-scan, no collect, the oracle
       replays the identical arithmetic.

    Measured at sf0.01 (hash-pinned): lineitem⋈orders sizes itself to
    w=65,536 and the amp drops from q53's 15,640 milli to ~1.2×
    (slack bound 1000·min_side/w ≈ 228 milli — BELOW the veto margin,
    the verdict's asked-for demonstration); customer⋈orders still
    broadcasts; events⋈events still vetoes at its auto width — that
    veto is now trustworthy because the reported slack bound is tiny
    against the measured amp, i.e. the fan-out is REAL (Σf² hot
    keys), not sketch noise. The slack_bound_milli column is the
    planner's own honesty meter: a veto with slack ≈ amp means "size
    up the width", a veto with slack ≪ amp means "the join really is
    a runaway".

    Scale shape: per pair, one KMV partial-sketch pass + one
    super-grid pass per side (both map-side combined), then
    grid-sized folds/joins only; no candidate join ever executes
    (plan-guarded like q53). The three pairs are INDEPENDENT chains
    of eager checkpoint jobs — they run on concurrent driver threads
    (guide §2.6 / the pq_codebooks precedent) so each pair's jobs
    back-fill the executor tail of the others; determinism is
    unaffected because no pair reads another's output and the final
    union is re-ordered by pair name."""
    from functools import partial, reduce

    from ..operators.sketch import (
        cm_sketch,
        kmv_estimate,
        kmv_sketch_partial,
    )
    from ..session import run_concurrently

    widths_df = spark.createDataFrame(
        [(int(w),) for w in _Q55_WIDTHS], "width long"
    )

    def _pair_row(spec):
        name, (lt, lk), (rt, rk) = spec
        left = (
            table(spark, sf_dir, lt)
            .where(F.col(lk).isNotNull())
            .select(F.col(lk).alias("k"))
            .localCheckpoint(eager=True)
        )
        right = (
            table(spark, sf_dir, rt)
            .where(F.col(rk).isNotNull())
            .select(F.col(rk).alias("k"))
            .localCheckpoint(eager=True)
        )
        stats = (
            left.agg(F.count(F.lit(1)).cast("long").alias("n_left"))
            .crossJoin(
                F.broadcast(
                    right.agg(
                        F.count(F.lit(1)).cast("long").alias("n_right")
                    )
                )
            )
        )
        dstats = (
            kmv_sketch_partial(
                left.select(F.lit(0).cast("long").alias("_g"), "k"),
                "_g", "k", k=_Q55_KMV_K,
            )
            .select(kmv_estimate("kmv", _Q55_KMV_K).alias("d_left"))
            .crossJoin(
                F.broadcast(
                    kmv_sketch_partial(
                        right.select(F.lit(0).cast("long").alias("_g"), "k"),
                        "_g", "k", k=_Q55_KMV_K,
                    ).select(
                        kmv_estimate("kmv", _Q55_KMV_K).alias("d_right")
                    )
                )
            )
        )
        wch = (
            widths_df.crossJoin(F.broadcast(dstats))
            .where(
                F.col("width")
                >= _Q55_CELLS_PER_KEY * F.greatest("d_left", "d_right")
            )
            .agg(
                F.coalesce(
                    F.min("width"), F.lit(_Q55_SUPER_WIDTH).cast("long")
                ).alias("width")
            )
        )
        # One super-width grid per side (checkpointed: 11 folds must
        # not re-scan the corpus), folded to every candidate width in
        # a single bounded aggregation — cm_fold vectorized across the
        # widths dimension.
        ska = cm_sketch(
            left, "k", _Q53_DEPTH, _Q55_SUPER_WIDTH
        ).localCheckpoint(eager=True)
        skb = cm_sketch(
            right, "k", _Q53_DEPTH, _Q55_SUPER_WIDTH
        ).localCheckpoint(eager=True)

        def fold_all(sk, cname):
            return (
                sk.crossJoin(widths_df)
                .groupBy(
                    "width", "r", (F.col("b") % F.col("width")).alias("b")
                )
                .agg(F.sum("cnt").cast("long").alias(cname))
            )

        ipw = (
            fold_all(ska, "_ca")
            .join(F.broadcast(fold_all(skb, "_cb")), ["width", "r", "b"])
            .groupBy("width", "r")
            .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("_ip"))
        )
        estw = ipw.groupBy("width").agg(
            F.min("_ip").cast("long").alias("est_n")
        )
        amp = F.expr(
            "CAST((est_n * 1000) DIV GREATEST(n_left, n_right) AS BIGINT)"
        )
        row = (
            estw.join(F.broadcast(wch), "width")
            .crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(dstats))
            .select(
                F.lit(name).alias("pair"),
                "n_left",
                "n_right",
                F.col("d_left").cast("long").alias("d_left"),
                F.col("d_right").cast("long").alias("d_right"),
                "width",
                "est_n",
                amp.alias("amp_est_milli"),
                F.expr(
                    "CAST((LEAST(n_left, n_right) * 1000) DIV width AS BIGINT)"
                ).alias("slack_bound_milli"),
                F.when(
                    F.least("n_left", "n_right") <= _Q53_BROADCAST_ROWS,
                    F.lit("broadcast"),
                )
                .when(amp >= _Q53_VETO_AMP_MILLI, F.lit("veto_runaway"))
                .otherwise(F.lit("shuffle_smj"))
                .alias("decision"),
            )
        )
        return row

    rows = run_concurrently(*(partial(_pair_row, s) for s in _Q53_PAIRS))
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy("pair")
