"""Relational query surface — SURVEY.md §2.6.

The reference has NO joins, sorts, set ops, windows, grouping sets, or SQL
(queries are hard-coded Java, DistributedGrep.java / RecordCount.java).
Spark SQL provides the whole category; these queries *demonstrate and
certify* it against the DuckDB oracle on the TPC-H-ish testdata.

Scale notes baked into each query:
- dimension joins broadcast (region/nation always; customer/supplier under
  the 64 MiB threshold at small SF, AQE decides at large SF)
- aggregates rely on partial→final HashAggregate (no raw-row shuffle)
- top-k = TakeOrderedAndProject (no global sort materialization)
- every float aggregate is rounded identically to the oracle so the
  driver's value-hash is stable across summation orders
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from hadoop_stuff_spark.catalog import load_table
from hadoop_stuff_spark.functions.money import sum_2dp_exact, sum_2dp_exact_sql
from hadoop_stuff_spark.operators.pairs import drop_hot_keys, pair_counts, with_set_sizes


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation over lineitem.
    One scan, partial agg map-side; shuffle carries 4 groups only."""
    li = _t(spark, sf_dir, "lineitem")
    # all money/discount aggregates in exact fixed point (see _revenue_exact):
    # price 2 dp → ×10^2; price×(1-disc) → ×10^4; ×(1+tax) → ×10^6; every
    # scaled per-item value is an exact integer < 2^53, sums are
    # order-independent, and the final divisions are identical doubles in
    # both engines.
    price_c2 = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_c4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    charge_c6 = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000,
        0,
    ).cast("long")
    disc_c2 = F.round(F.col("l_discount") * 100, 0).cast("long")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(price_c2) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(disc_c4) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.sum(charge_c6) / 1000000.0, 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round((F.sum(price_c2) / 100.0) / n, 4).alias("avg_price"),
            F.round((F.sum(disc_c2) / 100.0) / n, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0, 2) AS sum_base_price,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 2) AS sum_disc_price,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT)) / 1000000.0, 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0) / count(*), 4) AS avg_price,
       round((sum(CAST(round(l_discount * 100, 0) AS BIGINT)) / 100.0) / count(*), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""




def _revenue_exact(li_price="l_extendedprice", li_disc="l_discount"):
    """Order-independent revenue: price (2 dp) × (1-discount) (2 dp) scaled
    by 10^4 is an EXACT integer < 2^53, so the fixed-point sum is immune to
    float summation-order drift at round() boundaries (the failure q7 hit);
    dividing the exact sum back restores the usual 2-dp revenue."""
    c4 = F.round(F.col(li_price) * (1 - F.col(li_disc)) * 10000, 0).cast("long")
    return F.round(F.sum(c4) / 10000.0, 2)


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10
    (ordered on the ROUNDED revenue, tie-broken by key, so engine summation
    order cannot flip the selection)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_exact().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with broadcast dims (region ~5 and nation
    ~25 rows at ANY scale), revenue per nation."""
    region = broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue_exact().alias("revenue"))
    )


Q5_SQL = """
SELECT n_name, round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS). Spark plans broadcast/shuffled hash anti."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_nationkey")


SEMI_SQL = """
SELECT c_custkey, c_nationkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def window_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (ranking): top-3 customers by account balance per
    nation. row_number with a unique tiebreak (c_custkey) ⇒ deterministic.
    c_acctbal is raw data (no arithmetic) so both engines order identical
    doubles."""
    cust = _t(spark, sf_dir, "customer")
    nation = broadcast(_t(spark, sf_dir, "nation"))
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_name", "c_acctbal", "rk")
    )


WINDOW_SQL = """
SELECT n_name, c_name, c_acctbal, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT n_name, c_name, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rk <= 3
"""


def rollup_acctbal_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / ROLLUP: account-balance totals at (region, nation),
    (region), and grand-total levels."""
    cust = _t(spark, sf_dir, "customer")
    nation = broadcast(_t(spark, sf_dir, "nation"))
    region = broadcast(_t(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            sum_2dp_exact("c_acctbal").alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


ROLLUP_SQL = f"""
SELECT r_name, n_name, {sum_2dp_exact_sql('c_acctbal', 'total_acctbal')},
       count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def setops_customer_vs_supplier_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations that have customers but no suppliers
    (EXCEPT), plus shared ones (INTERSECT), tagged and unioned."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    cust_nations = nation.join(
        cust, nation.n_nationkey == cust.c_nationkey, "left_semi"
    ).select("n_name")
    sup_nations = nation.join(
        sup, nation.n_nationkey == sup.s_nationkey, "left_semi"
    ).select("n_name")
    only_cust = cust_nations.exceptAll(sup_nations).distinct().select(
        F.lit("customers_only").alias("kind"), "n_name"
    )
    both = cust_nations.intersect(sup_nations).select(
        F.lit("both").alias("kind"), "n_name"
    )
    return only_cust.unionByName(both)


SETOPS_SQL = """
WITH cust_nations AS (
  SELECT DISTINCT n_name FROM nation JOIN customer ON n_nationkey = c_nationkey
), sup_nations AS (
  SELECT DISTINCT n_name FROM nation JOIN supplier ON n_nationkey = s_nationkey
)
SELECT 'customers_only' AS kind, n_name FROM (SELECT n_name FROM cust_nations EXCEPT SELECT n_name FROM sup_nations)
UNION ALL
SELECT 'both' AS kind, n_name FROM (SELECT n_name FROM cust_nations INTERSECT SELECT n_name FROM sup_nations)
"""


def distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — partial+final aggregate on the distinct keys."""
    return _t(spark, sf_dir, "events").select("event_type").distinct()


DISTINCT_SQL = "SELECT DISTINCT event_type FROM events"


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count — the
    sketch the reference's ecosystem lacked entirely. No SQL oracle (HLL
    estimates are engine-specific); tests assert <5% relative error."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heap + merge
    of k rows, never a full sort, at any scale. Tiebreak on o_orderkey."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


def orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date functions + aggregation (the scalar-function library the
    reference lacks, §2.6)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_2dp_exact("o_totalprice").alias("total"),
            # avg from the exact cent sum: one float division of exact
            # integers — order-independent on both engines
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                / (100.0 * F.count(F.lit(1))),
                4,
            ).alias("avg_price"),
        )
    )


YEAR_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n_orders,
       {sum_2dp_exact_sql('o_totalprice', 'total')},
       round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / (100.0 * count(*)), 4) AS avg_price
FROM orders GROUP BY 1
"""


def json_props_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull k out of the JSON props string with
    a regex (portable to the oracle), bucket it, aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
    return (
        ev.withColumn("k_bucket", F.floor(k / 10).cast("int"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


JSON_SQL = """
SELECT CAST(floor(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) / 10) AS INTEGER) AS k_bucket,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set levels in one pass.
    Spark plans Expand + a single partial→final HashAggregate — the rows
    shuffled are (groups × 4), never the raw orders, so the plan holds at
    any scale."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_2dp_exact("o_totalprice").alias("total_price"),
        )
    )


CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {sum_2dp_exact_sql('o_totalprice', 'total_price')}
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def groupingsets_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube): totals by
    (event_type), by (user_id bucket), and grand total — disjoint
    dimensions, one scan. grouping_id() tags which set each row came from."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("int")
    )
    ev.createOrReplaceTempView("ev_gs")
    return spark.sql(
        """
        SELECT event_type, user_bucket,
               CAST(grouping_id(event_type, user_bucket) AS INTEGER) AS gid,
               count(*) AS n,
               round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0D, 2) AS total_value
        FROM ev_gs
        GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """
    )


GROUPINGSETS_SQL = f"""
SELECT event_type, CAST(user_id % 10 AS INTEGER) AS user_bucket,
       CAST(grouping(event_type) * 2 + grouping(user_id % 10) AS INTEGER) AS gid,
       count(*) AS n, {sum_2dp_exact_sql('value', 'total_value')}
FROM events
GROUP BY GROUPING SETS ((event_type), ((user_id % 10)), ())
"""


def exists_bulk_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (correlated EXISTS): orders per priority having at
    least one bulk lineitem (l_quantity >= 45). Decorrelated to a left-semi
    join — one shuffle on orderkey, then the tiny per-priority aggregate."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    bulk = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        orders.join(bulk, orders.o_orderkey == bulk.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


EXISTS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
GROUP BY o_orderpriority
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue from lineitems
    whose quantity is below 20% of the per-part average, for one brand.
    Decorrelated: per-part avg via partial agg (shuffles only partkey+2
    aggregates), broadcast-joined back. l_quantity is integral so the avg is
    bit-exact in both engines and the `<` comparison cannot flip."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").join(
        broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(broadcast(avg_q), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
                / 100.0
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


Q17_SQL = """
SELECT round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 / 7.0, 2) AS avg_yearly,
       count(*) AS n_lineitems
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def percentiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-identical on this data). Exact
    percentile is a SORT-per-group at scale; the scale path is
    `approx_percentile` (KLL-sketch-style mergeable summaries, map-side
    combinable) — its error bound is asserted against this exact result in
    tests/test_relational.py."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
    )


PERCENTILES_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus
"""


def q10_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer —
    4-way join (two facts + two broadcast dims), grouped revenue,
    deterministic top-20 on the rounded measure."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = broadcast(_t(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue_exact().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q7_nation_volume_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (adapted to available columns): shipping volume
    between supplier-nation and customer-nation pairs per ship year.
    Self-joined broadcast dim used twice under different aliases."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    n1 = broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, sup.s_nationkey == F.col("sk"))
        .join(n2, cust.c_nationkey == F.col("ck"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
    )
    # volume summed in EXACT integer cents: per-item rounding of the
    # (bit-identical in both engines) double product, then an
    # order-independent integer sum — immune to the last-cent drift a
    # float sum + final round hits when a group lands on a .005 boundary
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return pair.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        F.sum(cents).alias("volume_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS volume_cents,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands. The whole OR-of-ANDs predicate is one codegen'd filter; the
    shared p_partkey equi-join stays a hash join (never a BNLJ over the
    disjunction)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    bands = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 30))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10))
    )
    return joined.filter(bands).agg(
        _revenue_exact().alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q19_SQL = """
SELECT round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0, 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 30)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 10)
"""


def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per user-bucket event counts, one column per event type.
    Spark's pivot with an explicit value list compiles to conditional
    aggregates (one pass, no per-type scans) — same as the oracle's
    FILTER clauses."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("int")
    )
    types = ["click", "view", "purchase", "login", "error"]
    return (
        ev.groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


PIVOT_SQL = """
SELECT CAST(user_id % 10 AS INTEGER) AS user_bucket,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'view')     AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'login')    AS login,
       count(*) FILTER (event_type = 'error')    AS error
FROM events GROUP BY 1
"""


def analytic_order_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions with explicit frames (lead/lag + running
    ROWS frame), deterministically ordered by (date, key) within each
    customer; running total in exact cents."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    running = F.round(
        F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0)) / 100.0, 2
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice", 1).over(w), 2).alias("next_price"),
        running.alias("running_total"),
    )


ANALYTIC_SQL = """
SELECT o_orderkey, o_custkey,
       round(lag(o_totalprice) OVER w, 2) AS prev_price,
       round(lead(o_totalprice) OVER w, 2) AS next_price,
       round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) / 100.0, 2) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-scan filtered aggregate — every predicate
    (date range, discount band, quantity cap) pushes to the parquet scan;
    zero joins, zero wide shuffle (one-row partial-agg exchange).
    Revenue = sum(price × discount) in exact fixed point (×10^4)."""
    li = _t(spark, sf_dir, "lineitem")
    rev_c4 = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000, 0
    ).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(rev_c4) / 10000.0, 2).alias("revenue"))
    )


Q6_SQL = """
SELECT round(sum(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT))
             / 10000.0, 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact↔dim join (part broadcasts) + conditional
    aggregate ratio. Numerator and denominator are exact integer ×10^4
    sums; only the final ratio is floating point."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc_c4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_c4).otherwise(F.lit(0)))
    total = F.sum(disc_c4)
    return j.agg(
        F.round(promo * 100.0 / total, 6).alias("promo_revenue_pct")
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
                              ELSE 0 END)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)),
             6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery on an order-level quantity rollup,
    then customer/orders enrichment; top-20 by price. The lineitem rollup
    shuffles (orderkey, partial qty) only; the qualifying-order set is
    tiny, so the enrichment joins broadcast it."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 150
)
SELECT c_name, o_custkey AS c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted to the testdata's columns): customers with
    above-average positive balance and NO orders — scalar aggregate
    subquery (broadcast single row) + anti join, grouped by segment.

    The above-average comparison is done in exact integer space
    (bal_cents × n_pos > total_cents) so no float-boundary row can flip
    between engines."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    bal_cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    pos = cust.filter(F.col("c_acctbal") > 0)
    stats = pos.agg(
        F.sum(bal_cents).alias("total_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        cust.withColumn("bal_cents", bal_cents)
        .crossJoin(broadcast(stats))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("total_cents"))
    )
    idle = rich.join(
        orders, rich["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum("bal_cents") / 100.0, 2).alias("total_bal"),
    )


Q22_SQL = """
WITH stats AS (
  SELECT sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS total_cents,
         count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
), rich AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer CROSS JOIN stats
  WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) * n_pos > total_cents
)
SELECT c_mktsegment, count(*) AS n_custs,
       round(sum(bal_cents) / 100.0, 2) AS total_bal
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — 6-way star join (lineitem
    fact; part/supplier/orders/customer/nation/region dims) with a
    conditional-ratio aggregate per order year.

    Plan shape at scale: part is filtered FIRST (p_type selective) and
    broadcast into the lineitem scan, so the fact table is cut before any
    wide shuffle; orders (date-filtered) joins on orderkey (the one
    fact-sized shuffle); every remaining dim broadcasts. Exact fixed-point
    (x10^4) volumes; only the final share ratio is floating point."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    vol_c4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    # customer-side nation restricted to one region; supplier nation free
    cust_nations = (
        cust.join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "AMERICA")
        .select("c_custkey")
    )
    j = (
        li.join(broadcast(part.filter(F.col("p_type") == "STANDARD")), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(broadcast(cust_nations), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select(F.year("o_orderdate").alias("o_year"), vol_c4.alias("vol_c4"), "supp_nation")
    )
    target = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol_c4")).otherwise(F.lit(0)))
    return (
        j.groupBy("o_year")
        .agg(F.round(target / F.sum("vol_c4"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c4 ELSE 0 END)
             * 1.0 / sum(vol_c4), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS vol_c4,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
) v
GROUP BY o_year
ORDER BY o_year
"""


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer LEFT OUTER JOIN orders (filtered), then a
    count-of-counts distribution (how many customers placed exactly N
    orders, including N=0).

    Plan shape: the orders side pre-aggregates to (custkey, n) BEFORE the
    outer join, so the join carries one row per customer per side, not one
    per order; the second aggregation is over |distinct counts| rows."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    dist = (
        cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )
    return dist


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue-per-supplier over a quarter, then the
    supplier(s) achieving the global max (scalar subquery on an
    aggregate).

    Plan shape: one lineitem scan -> (suppkey, revenue) partial+final agg;
    the global max is a 1-row broadcast back onto that same aggregate
    (Spark reuses the shuffle via ReusedExchange), then a broadcast join
    to supplier for names. No fact-sized shuffle beyond the one agg."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev_c4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_c4).alias("total_c4"))
    )
    mx = revenue.agg(F.max("total_c4").alias("mx"))
    return (
        revenue.join(broadcast(mx), F.col("total_c4") == F.col("mx"))
        .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.round(F.col("total_c4") / 10000.0, 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS total_c4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       round(total_c4 / 10000.0, 2) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_c4 = (SELECT max(total_c4) FROM revenue)
ORDER BY s_suppkey
"""


def q12_ship_delay_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape, ADAPTED: the canonical query buckets late receipts
    by ship mode, but the driver testdata carries no
    l_shipmode/l_commitdate/l_receiptdate (TESTDATA.md) — so the same
    plan shape (fact-dim join + two-way conditional count by category) is
    expressed over what exists: line items shipped > 90 days after their
    order date, counted per order priority, split urgent/non-urgent.

    Plan shape: orders (2 cols) joins lineitem on orderkey — the one
    shuffle; the conditional counts fold into one partial agg."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate").cast("date"), 90)
    )
    urgent = F.sum(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    ).cast("long")
    other = F.sum(
        F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    ).cast("long")
    return (
        j.groupBy("o_orderpriority")
        .agg(urgent.alias("high_line_count"), other.alias("low_line_count"))
        .orderBy("o_orderpriority")
    )


Q12_SQL = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / cume_dist) — per-segment
    account-balance quartiles with each quartile's bounds and size.

    Plan shape: one shuffle on the window key (c_mktsegment), local sort
    inside partitions, then a small re-agg; no global sort."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    tiles = cust.select(
        "c_mktsegment",
        F.col("c_acctbal"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return (
        tiles.groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


NTILE_SQL = """
WITH t AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile, count(*) AS n,
       round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
FROM t
GROUP BY c_mktsegment, quartile
ORDER BY c_mktsegment, quartile
"""


def copurchase_pairs(
    spark: SparkSession, sf_dir: str, min_support: int = 12, top: int = 25
) -> DataFrame:
    """Market-basket co-occurrence with A-priori pruning: top part pairs
    appearing together in the most orders, counting only parts that are
    individually frequent (>= min_support orders).

    Plan shape — the pruning IS the scale story: the raw self-join on
    l_orderkey is quadratic in parts-per-order and linear in parts'
    popularity skew; filtering to frequent parts FIRST (one cheap
    pre-agg, broadcast back as a semi-join) cuts the join input before
    any pair is formed — the same monotonicity argument as A-priori's
    candidate pruning."""
    li = _t(spark, sf_dir, "lineitem")
    # r13: pin the basket relation to an explicit orderkey-hash
    # partitioning wide enough for every core (same rationale as
    # part_neighbor_jaccard — AQE coalesces the tiny pre-pair exchange to
    # one partition because it sizes on PRE-fan-out bytes, serializing
    # the pair generation + aggregate; interleaved noop ~2.3 -> ~1.5 s).
    # The distinct, the frequency aggregate's map side, the semi-join and
    # both pair-join sides all cluster by l_orderkey or a superset, so
    # one exchange serves the whole chain.
    n_b = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .repartition(n_b, "l_orderkey")
        .distinct()
    )
    freq = (
        baskets.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
        .select("l_partkey")
    )
    pruned = baskets.join(broadcast(freq), "l_partkey")
    pairs = (
        pair_counts(pruned, "l_orderkey", "l_partkey", ("part_a", "part_b"), "n_orders")
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(top)
    )
    return pairs


COPURCHASE_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey FROM baskets GROUP BY 1 HAVING count(*) >= 12
), pruned AS (
  SELECT b.l_orderkey, b.l_partkey FROM baskets b JOIN freq USING (l_partkey)
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM pruned a JOIN pruned b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 25
"""


def funnel_conversion(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Sessionized funnel: per event_type-agnostic user session (gaps >
    ``gap_minutes`` start a new session), did the user view → purchase IN
    ORDER within the session? Reports per-stage session counts and the
    ordered-conversion count.

    Plan shape: one shuffle on user_id for the session window (lag +
    running sum of gap flags — the gaps-and-islands sessionizer already
    certified by `sessionized_event_counts`), then a per-session
    conditional agg comparing first view time vs last purchase time.
    No self-join: the ordering test is min/max inside the group."""
    from hadoop_stuff_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(
        ev.select("user_id", "ts", "event_type"), gap_minutes=gap_minutes
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    return per_sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("first_view").isNotNull().cast("long")).alias("n_with_view"),
        F.sum(F.col("last_purchase").isNotNull().cast("long")).alias(
            "n_with_purchase"
        ),
        F.sum(
            (
                F.col("first_view").isNotNull()
                & F.col("last_purchase").isNotNull()
                & (F.col("last_purchase") > F.col("first_view"))
            ).cast("long")
        ).alias("n_converted"),
    )


FUNNEL_SQL = """
WITH sess AS (
  SELECT user_id, ts, event_type,
         sum(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT user_id, ts, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
  )
), per_sess AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM sess
  GROUP BY 1, 2
)
SELECT count(*) AS n_sessions,
       CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_view,
       CAST(sum(CASE WHEN last_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_purchase,
       CAST(sum(CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL
                          AND last_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM per_sess
"""


def stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface (stddev/variance/correlation/
    covariance) per group — one scan, all moments in a single partial+
    final agg (each is a sum-of-powers accumulator, so map-side combine
    applies exactly like plain sums)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        )
        .orderBy("l_returnflag")
    )


STATS_SQL = """
SELECT l_returnflag, count(*) AS n,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_extendedprice), 2) AS var_price,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: the four lineitem measures rotate into (metric,
    value) rows — one `unpivot` (Expand node: each input row emits one
    output row per measure map-side, no shuffle), then one partial+final
    agg per metric. The wide→long rotation every profiling/ML-feature
    pipeline needs; at any scale the only shuffle carries 4 groups."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.select(
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"),
    ).unpivot([], ["quantity", "extendedprice", "discount", "tax"], "metric", "value")
    return melted.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


UNPIVOT_SQL = """
WITH m AS (
  SELECT 'quantity' AS metric, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
  UNION ALL
  SELECT 'extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'discount', CAST(l_discount AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'tax', CAST(l_tax AS DOUBLE) FROM lineitem
)
SELECT metric, count(*) AS n,
       round(avg(value), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM m GROUP BY metric
"""


def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode: each user's most frequent event type (count-desc,
    then lexicographic type as the deterministic tiebreak) — the
    categorical summary Spark has no built-in aggregate for pre-3.4,
    expressed as count + ranked window so it stays two map-side-partial
    shuffles (user×type, then user) with no per-group sort of raw rows."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"), "n_events")
        .orderBy("user_id")
    )


MODE_PER_USER_SQL = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_type, n_events,
         row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC, event_type) AS rk
  FROM counts
)
SELECT user_id, event_type AS top_event_type, n_events
FROM ranked WHERE rk = 1 ORDER BY user_id
"""


def order_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-lag distribution per priority class: days between
    order placement and each lineitem's ship date — p50/p90/max plus the
    share shipped within 30 days, the operational SLA readout an order
    pipeline alerts on.

    Exactness: lags are exact integer day diffs (datediff — both engines
    count calendar days); percentiles ride the portable exact pair
    (percentile == quantile_cont) rounded to 4 dp; the SLA share is one
    integer division rounded to 6 dp. Scale shape: one join
    orders⋈lineitem on the order key (the schema's native co-partition —
    bucket both on orderkey and this is shuffle-free), then one
    map-side-combinable aggregate per priority."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("o_orderpriority", lag.alias("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 4).alias("p50_days"),
            F.round(F.expr("percentile(lag_days, 0.9)"), 4).alias("p90_days"),
            F.max("lag_days").alias("max_days"),
            F.round(
                F.sum(F.when(F.col("lag_days") <= 30, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("within_30d_share"),
        )
        .orderBy("o_orderpriority")
    )


FULFILLMENT_LAG_SQL = """
WITH lags AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_lineitems,
       round(quantile_cont(lag_days, 0.5), 4) AS p50_days,
       round(quantile_cont(lag_days, 0.9), 4) AS p90_days,
       CAST(max(lag_days) AS INTEGER) AS max_days,
       round(CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS within_30d_share
FROM lags
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size histogram: orders bucketed by lineitem count, each
    bucket reporting order share and exact total basket value — the
    first-order shape of purchasing behavior (and the fan-out factor
    every orders⋈lineitem join plan should be sized against).

    Exactness: counts are integers, value is exact integer cents,
    shares are single divisions of window-summed integers (6 dp).
    Scale shape: one lineitem aggregate to order grain (map-side cents
    partials), then a ~7-row bucket table with window shares."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("_cents"),
    )
    per_bucket = per_order.groupBy(F.col("n_items").alias("basket_size")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("_cents").alias("_bucket_cents"),
    )
    w_all = Window.partitionBy()
    return per_bucket.select(
        "basket_size",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double") / F.sum("n_orders").over(w_all), 6
        ).alias("order_share"),
        F.round(F.col("_bucket_cents") / 100.0, 2).alias("total_value"),
    ).orderBy("basket_size")


BASKET_SIZE_SQL = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS basket_size,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1
), per_bucket AS (
  SELECT basket_size, count(*) AS n_orders, sum(cents) AS bucket_cents
  FROM per_order GROUP BY 1
)
SELECT basket_size, n_orders,
       round(CAST(n_orders AS DOUBLE) / sum(n_orders) OVER (), 6)
         AS order_share,
       round(bucket_cents / 100.0, 2) AS total_value
FROM per_bucket
ORDER BY basket_size
"""


def basket_affinity_lift(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = 12,
    top: int = 25,
) -> DataFrame:
    """Association-rule readout over co-purchased parts: for each frequent
    pair, the LIFT (observed co-occurrence ÷ the independence expectation
    n_a·n_b/N) and both directed confidences — :func:`copurchase_pairs`
    ranks by raw count, which favours merely-popular pairs; lift surfaces
    the pairs that co-occur MORE than their popularity explains, the
    actual recommendation signal.

    Exactness: lift/confidence are single double divisions of exact
    integer counts with the operand order mirrored in the oracle
    (counts cast to double FIRST, then one multiply each side, then one
    divide — n_ab·N overflows int64 at warehouse scale, doubles don't);
    rounded 6 dp before the deterministic top-k order
    (lift desc, part_a, part_b — a TakeOrderedAndProject, never a
    global sort).

    Plan shape: identical A-priori pruning to copurchase_pairs (frequent
    parts broadcast-semi-joined BEFORE any pair forms), one pair hash
    aggregate, the part-frequency relation joined back twice (broadcast —
    it is frequent-parts-sized), and the basket total N is a 1-row
    broadcast (the allowlisted scalar shape)."""
    li = _t(spark, sf_dir, "lineitem")

    # the distinct basket relation feeds FIVE consumers (N, freq, both
    # pair sides, and the two frequency joins derive from freq) — without
    # materialization each consumer re-scans lineitem and re-runs the
    # distinct shuffle (7 FileScans in the compiled plan). An eager
    # localCheckpoint pins the single scan+shuffle; it truncates lineage
    # into executor-local, non-replicated blocks, so on a real cluster a
    # lost executor fails the query instead of recomputing it.
    # r13 probe, NEGATIVE: the copurchase_pairs wide orderkey-hash
    # repartition was tried here too and regressed (interleaved noop min
    # 1.87 -> 2.22 s): the eager checkpoint pays the extra exchange plus
    # 32-task scheduling for each of the five consumers, and this pair
    # stage (~2M pairs) is too small to repay it at bench scale. At
    # production scale the distinct's output exceeds AQE's advisory size,
    # so the narrow-coalesce problem this guards against does not arise.
    baskets = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    n_baskets = baskets.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    freq = (
        baskets.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_part"))
        .filter(F.col("n_part") >= min_support)
        .localCheckpoint(eager=True)
    )
    pruned = baskets.join(broadcast(freq.select("l_partkey")), "l_partkey")
    pairs = (
        pair_counts(pruned, "l_orderkey", "l_partkey", ("part_a", "part_b"), "n_ab")
        .filter(F.col("n_ab") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    lift = F.round(
        (F.col("n_ab").cast("double") * F.col("n_baskets").cast("double"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        6,
    )
    return (
        pairs.join(broadcast(fa), "part_a")
        .join(broadcast(fb), "part_b")
        .join(broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            lift.alias("lift"),
            F.round(F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_b").cast("double"), 6).alias(
                "conf_b_to_a"
            ),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(top)
    )


BASKET_LIFT_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM baskets
), freq AS (
  SELECT l_partkey, count(*) AS n_part FROM baskets
  GROUP BY 1 HAVING count(*) >= 12
), pruned AS (
  SELECT b.l_orderkey, b.l_partkey FROM baskets b JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
  FROM pruned a JOIN pruned b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT part_a, part_b, n_ab, fa.n_part AS n_a, fb.n_part AS n_b,
       round((CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE))
             / (CAST(fa.n_part AS DOUBLE) * CAST(fb.n_part AS DOUBLE)), 6)
         AS lift,
       round(CAST(n_ab AS DOUBLE) / CAST(fa.n_part AS DOUBLE), 6)
         AS conf_a_to_b,
       round(CAST(n_ab AS DOUBLE) / CAST(fb.n_part AS DOUBLE), 6)
         AS conf_b_to_a
FROM pairs
JOIN freq fa ON fa.l_partkey = part_a
JOIN freq fb ON fb.l_partkey = part_b
CROSS JOIN n
ORDER BY lift DESC, part_a, part_b
LIMIT 25
"""


def _rfm_scored(
    spark: SparkSession,
    sf_dir: str,
    n_tiles: int,
    exact: bool | None,
    exact_max_customers: int,
) -> DataFrame:
    """Per-customer RFM scores — the shared scoring stage behind
    `rfm_customer_segments` (which rolls it up to segments) and the
    bounded-deviation tests (which compare the exact-ntile and
    sketch-cut forms customer-by-customer). Returns
    [o_custkey, recency_days, n_orders, cents, r_score, f_score,
    m_score]; semantics and auto-switch documented on the public
    operator."""
    o = load_table(spark, sf_dir, "orders")
    if exact is None:
        n_est = o.agg(
            F.approx_count_distinct("o_custkey").alias("n")
        ).first()["n"]
        exact = n_est <= exact_max_customers
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).alias("cents"),
    )
    max_date = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("max_date"))
    base = per_cust.join(F.broadcast(max_date)).withColumn(
        "recency_days", F.datediff(F.col("max_date"), F.col("last_date"))
    )
    keep = ["o_custkey", "recency_days", "n_orders", "cents"]
    if exact:
        w_r = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
        w_f = Window.orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        w_m = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
        return base.select(
            *keep,
            (F.lit(n_tiles + 1) - F.ntile(n_tiles).over(w_r)).alias("r_score"),
            (F.lit(n_tiles + 1) - F.ntile(n_tiles).over(w_f)).alias("f_score"),
            (F.lit(n_tiles + 1) - F.ntile(n_tiles).over(w_m)).alias("m_score"),
        )
    qs = [i / n_tiles for i in range(1, n_tiles)]
    cuts = base.agg(
        F.percentile_approx("recency_days", qs).alias("rc"),
        F.percentile_approx("n_orders", qs).alias("fc"),
        F.percentile_approx("cents", qs).alias("mc"),
    )

    def _score(col, cut_col, ascending):
        # tiles below a cut: number of cut points the value exceeds
        # (or is exceeded by, for ascending-is-better recency);
        # +1 → 1..n_tiles, then flip so 5 = best
        above = F.aggregate(
            F.col(cut_col),
            F.lit(0),
            lambda acc, c: acc + (F.col(col) > c).cast("int"),
        )
        tile = above + 1
        return (F.lit(n_tiles + 1) - tile) if ascending else tile

    return base.join(F.broadcast(cuts)).select(
        *keep,
        # recency: smaller = better → tile 5 when below every cut
        _score("recency_days", "rc", ascending=True).alias("r_score"),
        _score("n_orders", "fc", ascending=False).alias("f_score"),
        _score("cents", "mc", ascending=False).alias("m_score"),
    )


def rfm_customer_segments(
    spark: SparkSession,
    sf_dir: str,
    n_tiles: int = 5,
    exact: bool | None = None,
    exact_max_customers: int = 10_000_000,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM quintile score: each customer scored 1–5 on how recently
    they ordered, how often, and how much (5 = best), then rolled up to
    the named segments a retention team actually acts on.

    Determinism: every ntile orders with c_custkey as the final
    tie-break (equal-height tiles with the remainder to the leading
    tiles — identical semantics in Spark and DuckDB); monetary is exact
    integer cents; recency is whole-day date arithmetic against the
    corpus max order date (a 1-row broadcast, the allowlisted scalar
    shape).

    Scale shape: one orders scan → per-customer aggregate (hash agg on
    o_custkey); with ``exact=True`` the three ntile windows sort the
    CUSTOMER relation (not facts). ``exact=False`` is the warehouse
    path (the quantnorm convention): quantile CUT POINTS come from one
    approx_percentile aggregate (mergeable sketch, no sort at all) and
    scores are comparisons against the broadcast 1-row cuts — tile
    membership then differs from ntile only at cut-value ties (ntile
    splits equal values across tiles by the custkey tie-break; the cut
    form puts them in one tile, which is the semantically honest
    grouping). Final rollup is a tiny (≤ n_tiles³) hash aggregate.

    ``exact=None`` (the default, VERDICT r8 #3) auto-switches: one
    approx_count_distinct probe over o_custkey (a cheap mergeable-sketch
    aggregate, NOT a precise count — it only feeds a threshold) picks
    the exact ntile form while the customer relation is comfortably a
    single sort task (≤ ``exact_max_customers``) and the sortless sketch
    form past it, so a 10⁹-customer corpus never runs three
    un-partitioned ntile sorts by default while the oracle-certified
    exact semantics stay the resolved default at test/driver scales."""
    scored = _rfm_scored(spark, sf_dir, n_tiles, exact, exact_max_customers)
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champions",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spenders")
        .otherwise("other")
    )
    return (
        scored.select("r_score", "f_score", "m_score", seg.alias("segment"), "cents")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("r_score"), 4).alias("avg_r"),
            F.round(F.avg("f_score"), 4).alias("avg_f"),
            F.round(F.avg("m_score"), 4).alias("avg_m"),
            F.round(F.sum("cents") / 100.0, 2).alias("total_revenue"),
        )
        .orderBy("segment")
    )


RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_date,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), mx AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS max_date FROM orders
), base AS (
  SELECT p.*, date_diff('day', last_date, max_date) AS recency_days
  FROM per_cust p CROSS JOIN mx
), scored AS (
  SELECT o_custkey, cents,
         6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
           AS r_score,
         6 - ntile(5) OVER (ORDER BY n_orders DESC, o_custkey ASC)
           AS f_score,
         6 - ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC)
           AS m_score
  FROM base
), seg AS (
  SELECT *,
         CASE
           WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
             THEN 'champions'
           WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
           WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
           WHEN f_score >= 4 THEN 'loyal'
           WHEN m_score >= 4 THEN 'big_spenders'
           ELSE 'other'
         END AS segment
  FROM scored
)
SELECT segment,
       count(*) AS n_customers,
       round(avg(r_score), 4) AS avg_r,
       round(avg(f_score), 4) AS avg_f,
       round(avg(m_score), 4) AS avg_m,
       round(sum(cents) / 100.0, 2) AS total_revenue
FROM seg
GROUP BY segment
ORDER BY segment
"""


# defaults shared with PART_NEIGHBOR_JACCARD_SQL below (the
# derived-constant convention: Python defaults and certified SQL
# cannot silently diverge)
_PNJ_MIN_COMMON = 3
_PNJ_MAX_PARTS = 200
_PNJ_TOP = 25


def part_neighbor_jaccard(
    spark: SparkSession,
    sf_dir: str,
    min_common: int = _PNJ_MIN_COMMON,
    max_parts_per_customer: int = _PNJ_MAX_PARTS,
    top: int = _PNJ_TOP,
) -> DataFrame:
    """Second-order part similarity — "customers who bought X also bought
    Y", normalized: Jaccard of the two parts' CUSTOMER sets, for pairs
    sharing at least ``min_common`` customers. The complement to
    :func:`copurchase_pairs` (raw co-count) and
    :func:`basket_affinity_lift` (independence ratio): Jaccard surfaces
    related NICHE parts that co-count ranking buries under universally
    popular ones.

    Plan shape — the ngram-Jaccard pattern, through the shared-key pair
    builder (:mod:`operators.pairs`): two parts meet iff a customer
    bought both. Whale customers (more than ``max_parts_per_customer``
    parts, |parts|² pairs each) are cut from the index first, from
    intersections and union sizes alike, so the value is the true
    Jaccard over the filtered index.

    Exactness: counts are exact integers; Jaccard is one double
    division of int64 operands, rounded 6 dp; the top-k orders by
    (jaccard desc, part_a, part_b) — a TakeOrdered, never a global
    sort."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # r13 optimization (guide §2.2/§2.4): pin the index to an explicit
    # cust-hash partitioning ONCE, wide enough for every core. Everything
    # downstream — the distinct, the whale aggregate, the anti-join and
    # both sides of the pair self-join — clusters by cust (or a superset),
    # so it all rides this single exchange with no further shuffle of the
    # index. Without the explicit width, AQE coalesces the tiny pre-pair
    # exchanges to ONE partition (it sizes on pre-fan-out bytes) and the
    # quadratic pair generation + 12.7M-group partial aggregate run
    # single-task (interleaved noop min: 6.6 s -> 3.0 s). The whale cut
    # bounds per-cust fan-out (<= max_parts² pairs), so cust-hash skew is
    # bounded too. A numpy sort-unique pair pipeline was probed against
    # this shape per VERDICT r12 and lost (4.4 s) or tied (2.9 s).
    n_idx = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    idx = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .repartition(n_idx, "cust")
        .distinct()
    )
    idx = drop_hot_keys(idx, "cust", max_parts_per_customer)
    pair = ("part_a", "part_b")
    common = pair_counts(idx, "cust", "part", pair).filter(F.col("n_common") >= min_common)
    out = with_set_sizes(common, idx, "part", pair, ("n_a", "n_b")).select(
        "part_a",
        "part_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
    )
    return out.orderBy(F.desc("jaccard"), "part_a", "part_b").limit(top)


PART_NEIGHBOR_JACCARD_SQL = f"""
WITH idx AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), whales AS (
  SELECT cust FROM idx GROUP BY 1 HAVING count(*) > {_PNJ_MAX_PARTS}
), cut AS (
  SELECT i.cust, i.part FROM idx i ANTI JOIN whales w ON i.cust = w.cust
), sizes AS (
  SELECT part, count(*) AS n_cust FROM cut GROUP BY 1
), common AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_common
  FROM cut a JOIN cut b ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
  HAVING count(*) >= {_PNJ_MIN_COMMON}
)
SELECT part_a, part_b, n_common,
       sa.n_cust AS n_a, sb.n_cust AS n_b,
       round(CAST(n_common AS DOUBLE)
             / CAST(sa.n_cust + sb.n_cust - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.part = part_a
JOIN sizes sb ON sb.part = part_b
ORDER BY jaccard DESC, part_a, part_b
LIMIT {_PNJ_TOP}
"""


def customer_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row revenue-concentration report over customer lifetime spend:
    Gini coefficient plus top-1% and top-10% revenue shares — the
    "do 1% of accounts carry half the business" readout that decides
    whether churn risk is concentrated and whether revenue dashboards
    need whale-segmented views. The customer-spend sibling of
    :func:`profile.gini_doc_length_by_source` (same rank identity, same
    guards).

    Exactness: spend is exact integer CENTS (the money convention);
    Gini uses G = (2·Σ(i·x_(i)) − (n+1)·Σx) / (n·Σx) over ascending
    ranks with doc-order tie-break on custkey. Σ(i·x) grows as
    n²/2·mean_cents — with TPC-H-like lifetime spend (~10⁸ cents) an
    int64 sum would overflow around n ≈ 3·10⁵ customers (ADVICE r9
    corrected the earlier bound), far below the claimed posture — so
    i·x is promoted to DOUBLE before summing on BOTH engines: gini
    needs ~6 significant digits and the partial-agg ordering ulps of
    the double sum are erased by the 6 dp round (the house float-agg
    convention). Σx stays exact int64; top-share cuts keep ranks >
    floor(0.99·n) / floor(0.9·n), integer-exact.

    Scale shape: orders aggregate to the customer relation first (hash
    agg, fact rows never sorted); the rank window then sorts
    CUSTOMERS — the RFM-class single-sort shape, customers-not-facts;
    at 10⁹+ customers the approx path is quantile cut-points over
    spend (approx_percentile), the documented house convention.
    Customers with zero orders carry zero revenue mass and are
    excluded (they cannot change any share numerator)."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    w = Window.orderBy(F.asc("cents"), F.asc("o_custkey"))
    wn = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n_all"),
    )
    n = F.col("n_customers")
    total = F.col("_total")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("_total"),
        F.sum(F.col("i").cast("double") * F.col("cents")).alias("_iwx"),
        F.sum(
            F.when(
                F.col("i") > F.floor(F.lit(0.99) * F.col("n_all")), F.col("cents")
            ).otherwise(F.lit(0))
        ).alias("_top1"),
        F.sum(
            F.when(
                F.col("i") > F.floor(F.lit(0.9) * F.col("n_all")), F.col("cents")
            ).otherwise(F.lit(0))
        ).alias("_top10"),
    )
    return agg.select(
        "n_customers",
        F.round(total / 100.0, 2).alias("total_revenue"),
        F.when(
            total > 0,
            # every product that scales as n·Σx runs in double: the int64
            # forms (n+1)·Σx and n·Σx overflow at the same ~3·10⁵-customer
            # scale as Σ(i·x) did
            F.round(
                (
                    F.lit(2.0) * F.col("_iwx")
                    - (n + 1).cast("double") * total.cast("double")
                )
                / (n.cast("double") * total.cast("double")),
                6,
            ),
        ).alias("gini"),
        F.when(
            total > 0,
            F.round(F.col("_top1").cast("double") / total.cast("double"), 6),
        ).alias("top1_share"),
        F.when(
            total > 0,
            F.round(F.col("_top10").cast("double") / total.cast("double"), 6),
        ).alias("top10_share"),
    )


REVENUE_CONCENTRATION_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS i,
         count(*) OVER () AS n_all
  FROM spend
), agg AS (
  SELECT count(*) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS total,
         sum(CAST(i AS DOUBLE) * cents) AS iwx,
         CAST(sum(CASE WHEN i > floor(0.99 * n_all) THEN cents ELSE 0 END)
              AS BIGINT) AS top1,
         CAST(sum(CASE WHEN i > floor(0.9 * n_all) THEN cents ELSE 0 END)
              AS BIGINT) AS top10
  FROM ranked
)
SELECT n_customers,
       round(total / 100.0, 2) AS total_revenue,
       CASE WHEN total > 0 THEN
         round((2.0 * iwx - CAST(n_customers + 1 AS DOUBLE) * total)
               / (CAST(n_customers AS DOUBLE) * total), 6) END AS gini,
       CASE WHEN total > 0 THEN
         round(CAST(top1 AS DOUBLE) / CAST(total AS DOUBLE), 6) END
         AS top1_share,
       CASE WHEN total > 0 THEN
         round(CAST(top10 AS DOUBLE) / CAST(total AS DOUBLE), 6) END
         AS top10_share
FROM agg
"""
