"""TPC-H queries and order-level business analytics over the star
schema."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from stockify_spark.operators.aggregates import group_agg
from stockify_spark.operators.joins import (
    anti_join,
    dim_join,
    fact_join,
    semi_join,
)
from stockify_spark.registry import _t, register
from stockify_spark.sources.fixtures import (
    PS_COST_MOD,
    PS_COST_MUL_PART,
    PS_COST_MUL_SUPP,
    PS_QTY_MOD,
    PS_QTY_MUL_PART,
    PS_QTY_MUL_SUPP,
    derive_partsupp,
    ps_supplycost_expr,
)


# ---------------------------------------------------------------------------
# TPC-H query shapes (multi-operator pipelines on the star schema).
# ---------------------------------------------------------------------------
@register(
    "tpch_q6",
    "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'"
    " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24",
    bench="paired",
)
def tpch_q6(spark, sf_dir):
    """TPC-H Q6: every predicate is scan-pushable (timestamp range +
    two numeric ranges), so the 100 TB plan is a row-group-pruned scan
    feeding one partial/final agg — no shuffle of data rows at all."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "tpch_q3",
    "SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
    " o_orderdate, o_orderpriority FROM customer"
    " JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-03-15'"
    " AND l_shipdate > TIMESTAMP '1997-03-15'"
    " GROUP BY l_orderkey, o_orderdate, o_orderpriority"
    " ORDER BY revenue DESC, l_orderkey LIMIT 10",
    bench="paired",
)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3: filtered dims broadcast, one fact shuffle on the
    order key, grouped agg, then TakeOrderedAndProject for the top-10
    (per-partition heaps — never a global sort)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    # orders ⋈ broadcast(filtered customers) is dim-shaped; the fact
    # join shuffles lineitem once on l_orderkey.
    joined = fact_join(
        li,
        dim_join(orders, cust, orders["o_custkey"] == cust["c_custkey"]),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    agg = group_agg(
        joined,
        ["l_orderkey", "o_orderdate", "o_orderpriority"],
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )
    return agg.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    ).limit(10)


@register(
    "tpch_q14",
    "SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'"
    " THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
    " / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'",
    bench="paired",
)
def tpch_q14(spark, sf_dir):
    """TPC-H Q14: conditional aggregation over a broadcast dim join —
    the filter prunes lineitem at the scan, part is broadcast, one
    partial/final agg produces the ratio."""

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    joined = dim_join(li, part, li["l_partkey"] == part["p_partkey"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue")
    )


@register(
    "tpch_q18",
    "SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, total_qty FROM orders"
    " JOIN (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty FROM lineitem"
    " GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) big"
    " ON o_orderkey = big.l_orderkey",
)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): grouped HAVING subquery
    joined back to orders — the aggregate side shrinks to the few
    qualifying keys before the join, so the join input is tiny."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_raw_qty"))
        # HAVING on the unrounded aggregate; round only the output
        .filter(F.col("_raw_qty") > 250)
        .select("l_orderkey", F.round("_raw_qty", 2).alias("total_qty"))
    )
    return orders.join(big, orders["o_orderkey"] == big["l_orderkey"]).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty"
    )


@register(
    "tpch_q5",
    "SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'"
    " AND o_orderdate < TIMESTAMP '1997-01-01'"
    " GROUP BY n_name",
    bench="paired",
)
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): supplier/nation/region and
    the customer dim broadcast; lineitem joins the year of orders
    WITHOUT a forced broadcast — a year of orders is fact-sized at
    scale, so the choice between broadcast and shuffle join belongs
    to AQE's runtime statistics, not a hint that would pin an
    executor-OOM plan at 100×."""

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == supp["s_suppkey"])
            & (F.col("c_nationkey") == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"])
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "tpch_q10",
    # revenue is summed in DECIMAL (exact, order-independent — a
    # double sum hit a half-cent rounding boundary where Spark and
    # DuckDB tie-break differently), ORDERED on the exact decimal,
    # and only the FINAL projected value is cast to DOUBLE: DuckDB's
    # pandas path degrades DECIMAL output to float64, so a DECIMAL
    # output column hash-mismatches the driver on identical values.
    # decimal->double is correctly rounded on both engines.
    "SELECT c_custkey, c_name, CAST(revenue AS DOUBLE) AS revenue, c_acctbal, n_name"
    " FROM (SELECT c_custkey, c_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(30,8)) AS revenue,"
    " c_acctbal, n_name FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'"
    " AND l_returnflag = 'R'"
    " GROUP BY c_custkey, c_name, c_acctbal, n_name"
    " ORDER BY revenue DESC, c_custkey LIMIT 20) t",
)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): returned lineitems only,
    quarter of orders, grouped by customer, top-20 by revenue via
    TakeOrderedAndProject."""

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # no forced broadcast on orders (fact-sized at scale) — AQE picks
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(rev).cast("decimal(30,8)").alias("revenue")
    )
    # top-20 on the exact decimal; only the projected value goes double
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("revenue").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@register(
    "tpch_q12",
    # SUM over integers is HUGEINT in DuckDB, which degrades to
    # float64 in the driver's pandas path while Spark emits int64 —
    # CAST AS BIGINT keeps the counters hash-type-stable.
    "SELECT l_linestatus,"
    " CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " AS BIGINT) AS high_line_count,"
    " CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " AS BIGINT) AS low_line_count"
    " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'"
    " GROUP BY l_linestatus",
)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (priority counting): conditional counts fold
    the CASE into the partial aggregate — one scan-pruned pass, one
    group shuffle of two counters per status."""

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    joined = fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
    )


@register(
    "tpch_q4",
    # adapted: our lineitem has no commitdate/receiptdate, so the
    # EXISTS probes late-shipping lines (l_shipdate > o_orderdate)
    "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders"
    " WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'"
    " AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey"
    " AND l_shipdate > o_orderdate)"
    " GROUP BY o_orderpriority",
)
def tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): EXISTS → left-semi
    join, then a tiny grouped count. The semi join shuffles only the
    probe keys, never lineitem payload columns."""

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    qualified = semi_join(
        orders,
        li,
        (orders["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > orders["o_orderdate"]),
    )
    return qualified.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q19",
    # adapted to our part schema: disjunctive brand/size/quantity arms
    "SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE (p_brand = 'BRAND_1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)"
    " OR (p_brand = 'BRAND_2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)"
    " OR (p_brand = 'BRAND_3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)",
)
def tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    the OR-of-ANDs evaluates after a single broadcast join — Catalyst
    extracts the common l_quantity >= 10 bound and pushes it to the
    lineitem scan."""

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = dim_join(li, part, li["l_partkey"] == part["p_partkey"])
    arm = lambda b, lo, hi, q: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(lo, hi)
        & (F.col("l_quantity") >= q)
    )
    return joined.filter(
        arm("BRAND_1", 1, 15, 10) | arm("BRAND_2", 10, 30, 20) | arm("BRAND_3", 20, 50, 30)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


@register(
    "tpch_q13",
    "SELECT c_count, COUNT(*) AS custdist FROM"
    " (SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer"
    " LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey)"
    " GROUP BY c_count",
)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer distribution): double aggregation — a
    per-customer order count (left outer join keeps zero-order
    customers; COUNT of a nullable key skips the null-extended rows),
    then a histogram over the counts. Second shuffle is O(distinct
    counts) — tiny."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy(cust["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q8",
    # adapted market share: NATION_1's share of ASIA-customer revenue
    # per order year
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,"
    " ROUND(SUM(CASE WHEN n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount)"
    " ELSE 0 END) / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' GROUP BY year(o_orderdate)",
)
def tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (market share): one fact shuffle, broadcast
    dimension chain, conditional-numerator ratio per year."""

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"])
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("n_name") == "NATION_1", rev).otherwise(0.0)) / F.sum(rev), 6
        ).alias("mkt_share")
    )


@register(
    "tpch_q22",
    # adapted: rich customers (above the positive-balance average) with
    # no high-value order, counted per market segment
    "WITH threshold AS (SELECT AVG(c_acctbal) AS t FROM customer WHERE c_acctbal > 0)"
    " SELECT c_mktsegment, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal"
    " FROM customer, threshold WHERE c_acctbal > t"
    " AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
    " AND o_totalprice > 200000)"
    " GROUP BY c_mktsegment",
)
def tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global-sales opportunity): scalar-subquery
    threshold (1-row broadcast) + anti join against high-value orders
    + grouped count — three subquery forms composed in one plan."""

    cust = _t(spark, sf_dir, "customer")
    threshold = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_t"))
    rich = cust.crossJoin(F.broadcast(threshold)).filter(F.col("c_acctbal") > F.col("_t"))
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    no_big = anti_join(rich, big_orders, rich["c_custkey"] == big_orders["o_custkey"])
    return no_big.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Remaining feasible TPC-H shapes. The star schema has no partsupp
# table (TESTDATA.md), so Q2/Q9/Q11/Q16/Q20 cannot be posed; Q7/Q15/
# Q17/Q21 below complete every partsupp-free query. Where a TPC-H
# predicate needs a missing column, the substitution is noted.
# ---------------------------------------------------------------------------
@register(
    "tpch_q7",
    # volume accumulates in DECIMAL (exact, order-independent — a
    # ROUND(SUM(double),2) sits on the half-cent boundary class that
    # bit tpch_q10); the final value casts to DOUBLE, which is
    # correctly rounded on both engines and pandas-path-stable.
    "SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue"
    " FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    " CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,"
    " CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume"
    " FROM supplier JOIN lineitem ON s_suppkey = l_suppkey"
    " JOIN orders ON o_orderkey = l_orderkey"
    " JOIN customer ON c_custkey = o_custkey"
    " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    " WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    " OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    " AND l_shipdate >= TIMESTAMP '1995-01-01'"
    " AND l_shipdate < TIMESTAMP '1997-01-01') shipping"
    " GROUP BY supp_nation, cust_nation, l_year",
)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations): one fact
    shuffle on the order key; orders stays shuffle-side (fact-sized),
    customer/supplier/nation broadcast. The bidirectional nation pair
    filters AFTER the nation joins — a two-row broadcast each, so
    Catalyst folds the OR into the joined stream."""

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2key"))
        .filter(pair)
    )
    volume = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(F.sum(volume).cast("double").alias("revenue"))


@register(
    "tpch_q15",
    # revenue summed in DECIMAL: exact and order-independent, so the
    # argmax supplier (revenue = MAX(revenue)) is boundary-safe across
    # engines (a double sum could tie-break differently). Only the
    # FINAL projection casts to DOUBLE — a DECIMAL output column
    # degrades to float64 in DuckDB's pandas path and hash-mismatches
    # the driver on identical values.
    "WITH revenue AS (SELECT l_suppkey AS supplier_no,"
    " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(30,8)) AS total_revenue"
    " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey)"
    " SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue"
    " FROM supplier JOIN revenue ON s_suppkey = supplier_no"
    " WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)",
)
def tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the revenue 'view' is one partial/
    final aggregate of a quarter of lineitem; its global max is a
    1-row broadcast back onto itself; supplier is a broadcast dim.
    Revenue accumulates in DECIMAL so the max-equality is exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).cast("decimal(30,8)").alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("_max"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("_max"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q17",
    # part has no p_container (TESTDATA.md): the brand predicate alone
    # scopes the parts, the correlated 0.2*avg(quantity) is faithful.
    # l_quantity is integral, so each engine's AVG is the same exact
    # integer sum over one division — the < boundary cannot flip.
    # the numerator accumulates in DECIMAL and casts the exact sum to
    # DOUBLE before the /7.0 — one deterministic conversion plus one
    # IEEE division on both engines, no ROUND(double) boundary.
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0"
    " AS avg_yearly FROM lineitem"
    " JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#4'"
    " AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2"
    " WHERE l2.l_partkey = p_partkey)",
)
def tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    scalar subquery decorrelates into a per-part aggregate joined
    back on partkey — one partial/final agg over lineitem + one
    broadcast of the brand-filtered part dim; no per-row re-scan,
    which is what the correlated form would naively cost."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_cap")
    )
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(per_part, li["l_partkey"] == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
    )
    return joined.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0).alias(
            "avg_yearly"
        )
    )


@register(
    "tpch_q21",
    # lineitem has no commit/receipt dates (TESTDATA.md): the "late"
    # predicate substitutes l_returnflag = 'R'. The SHAPE is faithful:
    # multi-supplier orders where l1's supplier is the ONLY failing
    # one — EXISTS another supplier's lineitem, NOT EXISTS another
    # supplier's failing lineitem.
    "SELECT s_name, COUNT(*) AS numwait FROM supplier"
    " JOIN lineitem l1 ON s_suppkey = l1.l_suppkey"
    " JOIN orders ON o_orderkey = l1.l_orderkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " WHERE o_orderstatus = 'F' AND n_name IN ('NATION_1','NATION_2','NATION_3')"
    " AND l1.l_returnflag = 'R'"
    " AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey"
    " AND l2.l_suppkey <> l1.l_suppkey)"
    " AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey"
    " AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')"
    " GROUP BY s_name",
)
def tpch_q21(spark, sf_dir):
    """TPC-H Q21 (waiting suppliers). Spark-first decorrelation: the
    EXISTS/NOT-EXISTS pair over lineitem collapses into ONE per-order
    aggregate — distinct suppliers and distinct failing suppliers —
    joined back on the order key. l1's supplier failing plus
    n_failing = 1 plus n_suppliers >= 2 is exactly 'the only failing
    supplier in a multi-supplier order'. Two shuffles on l_orderkey
    (agg + join) replace two self-joins of the fact table."""

    li = _t(spark, sf_dir, "lineitem")
    ostats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("_n_failed"),
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    joined = (
        fact_join(l1, orders, l1["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), l1["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(
            ostats.withColumnRenamed("l_orderkey", "_ok"),
            F.col("l_orderkey") == F.col("_ok"),
        )
        .filter((F.col("_n_supp") >= 2) & (F.col("_n_failed") == 1))
    )
    return joined.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


# ---------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quintiles per
# customer, the classic CRM scoring. ntile ties are resolved by the
# ORDER BY's unique (metric, custkey) total order on both engines.
# ---------------------------------------------------------------------------
@register(
    "orders_rfm",
    "WITH base AS (SELECT o_custkey,"
    "  MAX(epoch_ms(o_orderdate)) AS last_ms,"
    "  CAST(COUNT(*) AS BIGINT) AS frequency,"
    "  ROUND(SUM(o_totalprice), 2) AS monetary"
    "  FROM orders GROUP BY o_custkey)"
    " SELECT o_custkey, last_ms, frequency, monetary,"
    " CAST(ntile(5) OVER (ORDER BY last_ms DESC, o_custkey) AS BIGINT) AS r_score,"
    " CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,"
    " CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_score"
    " FROM base",
)
def orders_rfm(spark, sf_dir):
    """RFM scoring: one group-by to per-customer (recency,
    frequency, monetary), then three quintile windows over the
    compact customer table. The windows are global-order (parity
    hazard, SURVEY §7.4.1) but over |customers| aggregated rows, not
    raw orders — at 100 TB the production form range-partitions each
    ORDER BY (the bucketed boundary-exchange pattern proven by
    window_partitioned_parity)."""
    base = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.unix_millis("o_orderdate")).alias("last_ms"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    wr = Window.orderBy(F.col("last_ms").desc(), F.col("o_custkey"))
    wf = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    wm = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    return base.select(
        "o_custkey",
        "last_ms",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).cast("long").alias("r_score"),
        F.ntile(5).over(wf).cast("long").alias("f_score"),
        F.ntile(5).over(wm).cast("long").alias("m_score"),
    )


# TPC-H completion: Q2 / Q9 / Q11 / Q16 / Q20 over a derived PARTSUPP.
#
# The driver's testdata has no partsupp table, which blocked these five
# queries (COVERAGE.md documented the gap). They are unblocked by a
# DETERMINISTIC reconstruction (sources/fixtures.derive_partsupp):
# distinct observed (l_partkey, l_suppkey) pairs + integer-hash
# availqty/supplycost — identical in Spark and in the oracle's CTE, so
# the differential check is exact. Query shapes follow the public
# TPC-H spec, with columns adapted to the driver schema (no p_mfgr /
# s_address / s_comment; Q16's excluded-supplier set uses negative
# account balances instead of comment scraping to preserve the NOT IN
# shape).

# The oracle CTE interpolates the SAME constants the Spark-side
# expressions use (sources/fixtures.py) — one definition, two engines.
_PS_CTE = f"""WITH partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         ((ps_partkey*{PS_QTY_MUL_PART} + ps_suppkey*{PS_QTY_MUL_SUPP}) % {PS_QTY_MOD} + 1)::BIGINT AS ps_availqty,
         ((ps_partkey*{PS_COST_MUL_PART} + ps_suppkey*{PS_COST_MUL_SUPP}) % {PS_COST_MOD})::DOUBLE / 100.0 + 1.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
)"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier per part in a region
# ---------------------------------------------------------------------------
_Q2_SQL = _PS_CTE + """,
eu AS (
  SELECT ps.ps_partkey, ps.ps_supplycost, s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
),
mc AS (SELECT ps_partkey, MIN(ps_supplycost) AS min_cost FROM eu GROUP BY ps_partkey)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand
FROM part p
JOIN eu e ON e.ps_partkey = p.p_partkey
JOIN mc ON mc.ps_partkey = p.p_partkey AND e.ps_supplycost = mc.min_cost
WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'LARGE'
"""


@register("tpch_q2", _Q2_SQL, bench="paired")
def tpch_q2(spark, sf_dir):
    """Q2 (public TPC-H spec): cheapest EUROPE supplier for each
    size-10..20 LARGE part. The region-restricted catalog aggregates to a
    per-part min, re-joined on cost equality (exact: supplycost is an
    integer-derived double). Dims broadcast; the only data-sized
    shuffle is the partsupp distinct."""
    ps = derive_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    # per-part minimum as a WINDOW over the single eu pass instead of
    # a groupBy + self-join back: the catalog is referenced once, so
    # no materialization barrier (persist/checkpoint) is needed at
    # all, and the only data-sized exchanges are the partsupp
    # distinct and the ps_partkey window shuffle
    w = W.partitionBy("ps_partkey")
    cheapest = eu.withColumn("min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("min_cost")
    )
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    return (
        F.broadcast(part)
        .join(cheapest, part.p_partkey == cheapest.ps_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit by nation and year
# ---------------------------------------------------------------------------
_Q9_SQL = _PS_CTE + """
SELECT n.n_name AS nation, YEAR(o.o_orderdate)::BIGINT AS o_year,
       ROUND(SUM(l.l_extendedprice*(1-l.l_discount) - ps.ps_supplycost*l.l_quantity), 2) AS profit
FROM lineitem l
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
"""


@register("tpch_q9", _Q9_SQL, bench="paired")
def tpch_q9(spark, sf_dir):
    """Q9: profit on red parts by supplier nation and order year —
    the classic many-join star over the fact table.

    The partsupp join is INLINED: the derived catalog's supplycost is
    a pure integer-hash function of (partkey, suppkey), and its key
    domain is exactly lineitem's distinct pairs — so joining the fact
    back to it on the composite key attaches f(l_partkey, l_suppkey)
    with multiplicity 1. Computing the function directly on the fact
    row is algebraically identical and deletes a second lineitem
    scan, the distinct shuffle, and a composite-key shuffle join —
    the generated-column pushdown any optimizer with catalog
    knowledge would make. Q2/Q11/Q16/Q20 keep the real derived
    relation (they aggregate at pair granularity, where the distinct
    is load-bearing). part/supplier/nation broadcast; orders joins
    on the fact's orderkey (AQE picks the strategy at real sizes)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ps_supplycost", ps_supplycost_expr("l_partkey", "l_suppkey")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    joined = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == F.col("s_nationkey"))
        .join(o, o.o_orderkey == li.l_orderkey)
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification
# ---------------------------------------------------------------------------
_Q11_SQL = _PS_CTE + """,
nat AS (SELECT ps.ps_partkey, ps.ps_supplycost * ps.ps_availqty AS v
        FROM partsupp ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        WHERE s.s_nationkey = 3),
tot AS (SELECT SUM(v) AS t FROM nat)
SELECT ps_partkey, ROUND(SUM(v), 2) AS value
FROM nat, tot GROUP BY ps_partkey, t HAVING SUM(v) > 0.001 * t
"""


@register("tpch_q11", _Q11_SQL)
def tpch_q11(spark, sf_dir):
    """Q11: parts whose nation-3 stock value exceeds 0.1% of the
    nation's total — a grouped aggregate gated on a global aggregate.
    The global total is one scalar (broadcast by construction); no
    second scan of partsupp at scale (the grouped table re-aggregates
    map-side)."""
    ps = derive_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    nat = ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
    )
    grouped = nat.groupBy("ps_partkey").agg(F.sum("v").alias("sv"))
    total = grouped.agg(F.sum("sv").alias("t"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("sv") > 0.001 * F.col("t"))
        .select("ps_partkey", F.round("sv", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# Q16 — supplier count by part attributes (NOT IN exclusion)
# ---------------------------------------------------------------------------
_Q16_SQL = _PS_CTE + """
SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT ps.ps_suppkey)::BIGINT AS supplier_cnt
FROM partsupp ps JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'SMALL%'
  AND p.p_size IN (1, 4, 7, 10, 14, 19, 25, 45)
  AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("tpch_q16", _Q16_SQL)
def tpch_q16(spark, sf_dir):
    """Q16: distinct-supplier counts per (brand, type, size) slice,
    excluding a supplier denylist — the spec's comment-scraped set is
    adapted to negative account balances (the schema has no
    s_comment) to preserve the NOT IN anti-join shape."""
    ps = derive_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("SMALL%")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 25, 45)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("ps_suppkey")
    )
    return (
        ps.join(bad, "ps_suppkey", "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers with excess stock of red parts
# ---------------------------------------------------------------------------
_Q20_SQL = _PS_CTE + """,
shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
excess AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM partsupp ps
  JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE '%red%'
  LEFT JOIN shipped sh ON sh.l_partkey = ps.ps_partkey AND sh.l_suppkey = ps.ps_suppkey
  WHERE ps.ps_availqty > 0.5 * COALESCE(sh.qty, 0)
)
SELECT s.s_name, s.s_suppkey
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_2'
WHERE s.s_suppkey IN (SELECT ps_suppkey FROM excess)
"""


@register("tpch_q20", _Q20_SQL)
def tpch_q20(spark, sf_dir):
    """Q20: NATION_2 suppliers holding more than half a year's
    shipments of any red part. The spec's correlated scalar subquery
    is decorrelated into a pre-aggregated (partkey, suppkey) shipment
    table left-joined to the catalog — the form Catalyst would
    produce, written explicitly so the shuffle keys are visible."""
    li = _t(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    ps = derive_partsupp(spark, sf_dir)
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    excess = (
        ps.join(F.broadcast(red), ps.ps_partkey == F.col("p_partkey"))
        .join(
            shipped,
            (shipped.l_partkey == ps.ps_partkey)
            & (shipped.l_suppkey == ps.ps_suppkey),
            "left",
        )
        .filter(F.col("ps_availqty") > 0.5 * F.coalesce(F.col("qty"), F.lit(0.0)))
        .select("ps_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "leftsemi")
        .select("s_name", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# orders_pareto — ABC revenue classification (Pareto bands)
# ---------------------------------------------------------------------------
_PARETO_SQL = """
WITH cust AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 6) AS rev
              FROM orders GROUP BY 1),
r AS (SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS crev,
             SUM(rev) OVER () AS tot
      FROM cust)
SELECT CASE WHEN crev / tot <= 0.5 THEN 'A'
            WHEN crev / tot <= 0.8 THEN 'B'
            ELSE 'C' END AS cls,
       CAST(COUNT(*) AS BIGINT) AS customers,
       ROUND(SUM(rev), 2) AS revenue
FROM r GROUP BY 1
"""


@register("orders_pareto", _PARETO_SQL)
def orders_pareto(spark, sf_dir):
    """ABC / Pareto classification: rank customers by revenue,
    cumulative-share bands at 50% / 80%, report count + revenue per
    band. The per-customer rollup is the data-sized shuffle; the
    cumulative share is a global ordered prefix sum over the
    CUSTOMER table — the documented single-partition parity shape
    (PLAN_AUDIT.md): correct here because the prefix input is
    already reduced to one row per customer, and the recursable
    two-phase prefix scan (pipeline_token_pack) is the swap-in when
    even the reduced table outgrows one task. Ties on revenue are
    broken by custkey so the running order — and therefore the band
    assignment — is engine-independent. Per-customer revenue is
    rounded to 6dp BEFORE the prefix sum and share comparison (the
    window_seasonal discipline): the per-customer SUM is an unordered
    double accumulation, so without the round cross-engine ulp drift
    could reorder near-tied customers or flip a boundary row's band —
    the custkey tie-break fixes order ties, not value drift."""
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    wo = (
        Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    r = cust.withColumn("crev", F.sum("rev").over(wo)).withColumn(
        "tot", F.sum("rev").over(wall)
    )
    share = F.col("crev") / F.col("tot")
    return (
        r.withColumn(
            "cls",
            F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C"),
        )
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# orders_cohort_ltv — cohort lifetime-value curves
# ---------------------------------------------------------------------------
_LTV_SQL = """
WITH firstm AS (SELECT o_custkey,
                       MIN(date_trunc('month', o_orderdate)) AS cohort
                FROM orders GROUP BY 1),
x AS (SELECT f.cohort,
             date_diff('month', f.cohort, date_trunc('month', o.o_orderdate)) AS age,
             o.o_totalprice
      FROM orders o JOIN firstm f USING (o_custkey)),
g AS (SELECT cohort, age, CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(SUM(o_totalprice), 6) AS revenue
      FROM x GROUP BY 1, 2)
SELECT strftime(cohort, '%Y-%m') AS cohort, CAST(age AS BIGINT) AS age,
       n_orders, revenue,
       ROUND(SUM(revenue) OVER (PARTITION BY cohort ORDER BY age), 6)
         AS cum_revenue
FROM g
"""


@register("orders_cohort_ltv", _LTV_SQL)
def orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by cohort age in months — the LTV
    matrix behind every retention-economics dashboard. One customer
    first-month aggregate joined back to the fact stream (broadcast:
    one row per customer), one (cohort, age) rollup, then the
    cumulative curve as an ordered window over the ROLLED-UP table
    (months-count rows per cohort, not order-scale). Float policy:
    the data-sized SUM rounds to 6dp BEFORE the running total, so
    the cumulative accumulation runs over identical doubles in
    identical (age) order on both engines — the orders_pareto
    discipline for prefix sums over unordered aggregates."""

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.trunc("o_orderdate", "month").alias("m")
    )
    firstm = orders.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    x = orders.join(F.broadcast(firstm), "o_custkey").select(
        "cohort",
        F.months_between("m", "cohort").cast("long").alias("age"),
        "o_totalprice",
    )
    g = x.groupBy("cohort", "age").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("revenue"),
    )
    w = Window.partitionBy("cohort").orderBy("age")
    return g.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        "age",
        "n_orders",
        "revenue",
        F.round(F.sum("revenue").over(w), 6).alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# orders_survival_km — Kaplan-Meier over inter-order gaps
# ---------------------------------------------------------------------------
_KM_SQL = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
),
horizon AS (SELECT MAX(o_orderdate) AS hmax FROM orders),
gaps AS (
  SELECT CASE WHEN nxt IS NULL
              THEN date_diff('day', o_orderdate, hmax)
              ELSE date_diff('day', o_orderdate, nxt) END AS t,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
  FROM seq, horizon
),
tbl AS (
  SELECT t, CAST(SUM(ev) AS DOUBLE) AS d, CAST(COUNT(*) AS DOUBLE) AS x
  FROM gaps GROUP BY t
),
risk AS (
  SELECT t, d,
         SUM(x) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
  FROM tbl
)
SELECT CAST(t AS BIGINT) AS t_days, CAST(d AS BIGINT) AS d_events,
       CAST(n AS BIGINT) AS n_at_risk,
       ROUND(EXP(SUM(LN(1.0 - d / n))
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
         AS survival
FROM risk
WHERE d > 0 AND d < n
ORDER BY t_days
"""


@register("orders_survival_km", _KM_SQL)
def orders_survival_km(spark, sf_dir):
    """Kaplan-Meier repurchase curve: survival of the 'time until
    next order' per customer, right-censoring each customer's final
    open interval at the dataset horizon — S(t) = prod_{t_i<=t}
    (1 - d_i/n_i). The life table is pure integer aggregation
    (events d_i per distinct gap, at-risk n_i as a DESCENDING
    cumulative count, so censored rows leave the risk set without
    ever being events); the product is taken in log space as a
    cumulative ordered sum. Rows where the last at-risk subjects all
    exit (d = n) are excluded — K-M is degenerate-zero there and
    ln(0) is engine-UB; d > 0 keeps the curve at its jump points.
    One window over customers + one tiny life-table window; the
    horizon is a broadcast scalar."""

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("nxt"),
    )
    horizon = o.agg(F.max("o_orderdate").alias("hmax"))
    gaps = seq.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("nxt").isNull(),
            F.datediff(F.col("hmax"), F.col("o_orderdate")),
        )
        .otherwise(F.datediff(F.col("nxt"), F.col("o_orderdate")))
        .alias("t"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("ev"),
    )
    tbl = gaps.groupBy("t").agg(
        F.sum("ev").cast("double").alias("d"),
        F.count(F.lit(1)).cast("double").alias("x"),
    )
    wr = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = tbl.select("t", "d", F.sum("x").over(wr).alias("n"))
    ws = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    surv = F.exp(F.sum(F.log(1.0 - F.col("d") / F.col("n"))).over(ws))
    return (
        risk.withColumn("survival", F.round(surv, 6))
        .where((F.col("d") > 0) & (F.col("d") < F.col("n")))
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            F.col("d").cast("bigint").alias("d_events"),
            F.col("n").cast("bigint").alias("n_at_risk"),
            "survival",
        )
        .orderBy("t_days")
    )


_HOLT_SQL = """
WITH RECURSIVE rev AS (
  SELECT n.n_name AS nation,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS ym,
         ROUND(SUM(o.o_totalprice), 2) AS z
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
base AS (
  SELECT nation, ym,
         row_number() OVER (PARTITION BY nation ORDER BY ym) - 1 AS pos, z
  FROM rev
),
r AS (
  SELECT nation, ym, pos, z, z AS l, CAST(0 AS DOUBLE) AS b
  FROM base WHERE pos = 0
  UNION ALL
  SELECT t.nation, t.ym, t.pos, t.z,
         0.3 * t.z + 0.7 * (r.l + r.b),
         0.1 * ((0.3 * t.z + 0.7 * (r.l + r.b)) - r.l) + 0.9 * r.b
  FROM r JOIN base t ON t.nation = r.nation AND t.pos = r.pos + 1
)
SELECT nation, CAST(ym AS BIGINT) AS ym, ROUND(l, 6) AS level,
       ROUND(b, 6) AS trend, ROUND(l + b, 6) AS forecast_1
FROM r
"""


@register("orders_holt_forecast", _HOLT_SQL, bench="paired")
def orders_holt_forecast(spark, sf_dir):
    """Holt's linear-trend smoothing (alpha=0.3, gamma=0.1) over the
    REAL monthly-revenue series per nation (orders ⋈ customer ⋈
    nation, 25 series x ~80 months): l_t = 0.3 z + 0.7 (l+b),
    b_t = 0.1 (l_t - l_{t-1}) + 0.9 b, seeded l0 = z0, b0 = 0;
    forecast_1 = l + b. The recursion steps OBSERVED months
    (row_number pos — two nations have empty months, and a gapped
    pos would strand the tail). Inputs are ROUND(SUM, 2)-pinned on
    both faces: o_totalprice is 2dp decimal data, so the rounded sum
    is the exact decimal value regardless of cross-engine float
    accumulation order — the recursion then sees bit-identical
    operands. The aggregation is one shuffle; the recursion is
    applyInPandas over 25 nation groups."""



    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("z"))
    )

    def holt_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ym").reset_index(drop=True)
        z = pdf["z"].to_numpy()
        n = len(z)
        ls = [0.0] * n
        bs = [0.0] * n
        l, b = z[0], 0.0
        ls[0], bs[0] = l, b
        for t in range(1, n):
            l_new = 0.3 * z[t] + 0.7 * (l + b)
            b = 0.1 * (l_new - l) + 0.9 * b
            l = l_new
            ls[t], bs[t] = l, b
        return pd.DataFrame(
            {"nation": pdf["nation"], "ym": pdf["ym"], "l": ls, "b": bs}
        )

    res = rev.groupBy("nation").applyInPandas(
        holt_series, schema="nation string, ym long, l double, b double"
    )
    return res.select(
        "nation",
        "ym",
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
        F.round(F.col("l") + F.col("b"), 6).alias("forecast_1"),
    )


# Stream-static enrichment, forecast backtesting, backlog aging, and
# sketch mergeability.
#
# The stream-static broadcast join is the one streaming shape the
# suite didn't yet pin (dimension enrichment: static side broadcast
# per micro-batch, only the windowed agg holds state — streaming face
# verified in tests/test_streaming.py). The forecast backtest COMPOSES
# orders_holt_forecast with the next observed actual (operator
# composition, the ml_confusion_metrics pattern applied to
# time-series). HLL mergeability is VERIFIED, not asserted: three
# partition-built register sets max-merge to exactly the directly
# built registers, the property that makes the sketch distributable.
_FCEVAL_SQL = f"""
WITH holt AS ({_HOLT_SQL}),
rev AS (
  SELECT n.n_name AS nation,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS ym,
         ROUND(SUM(o.o_totalprice), 2) AS z
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
pos AS (
  SELECT nation, ym,
         row_number() OVER (PARTITION BY nation ORDER BY ym) - 1 AS pos, z
  FROM rev
),
j AS (
  SELECT h.nation, ABS(a.z - h.forecast_1) AS abs_err,
         ABS(a.z - h.forecast_1) / a.z AS ape
  FROM holt h
  JOIN pos p ON p.nation = h.nation AND p.ym = h.ym
  JOIN pos a ON a.nation = h.nation AND a.pos = p.pos + 1
)
SELECT nation, COUNT(*) AS n_evals,
       ROUND(AVG(abs_err), 4) AS mae,
       ROUND(AVG(ape), 6) AS mape
FROM j GROUP BY nation
"""


@register("orders_forecast_eval", _FCEVAL_SQL)
def orders_forecast_eval(spark, sf_dir):
    """One-step-ahead backtest of orders_holt_forecast: each month's
    forecast_1 is scored against the NEXT OBSERVED month's actual
    revenue (same row_number stepping as the recursion — gapped
    months pair with their successor, not a phantom calendar month).
    MAE and MAPE per nation. Forecasts enter at their published 6dp
    rounding and actuals at the 2dp pin, so both engines difference
    identical operands; the averages carry only benign sum-order
    drift absorbed by the output rounding. Composition of a registry
    operator with its own evaluation — the time-series counterpart
    of ml_confusion_metrics."""

    holt = orders_holt_forecast(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("z"))
    )
    # pos feeds both the forecast-side and actual-side join branches;
    # materialize it so neither branch re-runs the 3-table aggregation
    pos = rev.withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("nation").orderBy("ym")) - 1,
    ).localCheckpoint(eager=False)
    p = pos.select("nation", "ym", "pos")
    a = pos.select(
        "nation", F.col("pos").alias("apos"), F.col("z").alias("actual")
    )
    j = (
        holt.join(p, ["nation", "ym"])
        .join(a, (a["nation"] == holt["nation"]) & (F.col("apos") == F.col("pos") + 1))
        .select(
            holt["nation"].alias("nation"),
            F.abs(F.col("actual") - F.col("forecast_1")).alias("abs_err"),
            (F.abs(F.col("actual") - F.col("forecast_1")) / F.col("actual")).alias(
                "ape"
            ),
        )
    )
    return j.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.round(F.avg("abs_err"), 4).alias("mae"),
        F.round(F.avg("ape"), 6).alias("mape"),
    )


_AGING_SQL = """
WITH cutoff AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
open_orders AS (
  SELECT o.o_orderstatus AS status,
         date_diff('day', CAST(o.o_orderdate AS DATE), a.d) AS age_days,
         o.o_totalprice
  FROM orders o CROSS JOIN cutoff a
  WHERE o.o_orderstatus <> 'F'
)
SELECT status,
       CASE WHEN age_days <= 365 THEN '0-1y'
            WHEN age_days <= 730 THEN '1-2y'
            ELSE '2y+' END AS age_bucket,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS open_value
FROM open_orders
GROUP BY 1, 2
"""


@register("orders_backlog_aging", _AGING_SQL)
def orders_backlog_aging(spark, sf_dir):
    """Order-backlog aging: non-finalized orders bucketed by age in
    days as of the newest order date (the BI aging report). Integer
    day arithmetic on both faces (Spark datediff ≡ DuckDB
    date_diff('day')); the as-of scalar broadcasts."""
    orders = _t(spark, sf_dir, "orders")
    asof = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("d"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(asof))
        .select(
            F.col("o_orderstatus").alias("status"),
            F.datediff(F.col("d"), F.col("o_orderdate").cast("date")).alias(
                "age_days"
            ),
            "o_totalprice",
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 365, "0-1y")
        .when(F.col("age_days") <= 730, "1-2y")
        .otherwise("2y+")
    )
    return open_orders.groupBy("status", bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("open_value"),
    )


# Revenue-bridge decomposition and corpus drift divergence.
#
# The revenue bridge is the FP&A waterfall: month-over-month revenue
# change split exactly into a volume effect and a price/mix effect
# (the two terms SUM to the delta by construction — an in-result
# identity check like agg_bitmap_distinct's). JSD closes the
# distribution-distance family (PSI/KS/chi²/MI already registered)
# with the symmetric bounded divergence used for corpus drift between
# sources; both queries are integer-count/pinned-decimal
# deterministic.
_BRIDGE_SQL = """
WITH rev AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(o_totalprice), 2) AS r
  FROM orders GROUP BY 1
),
seq AS (
  SELECT ym, n, r,
         lag(n) OVER w AS pn, lag(r) OVER w AS pr
  FROM rev WINDOW w AS (ORDER BY ym)
)
SELECT CAST(ym AS BIGINT) AS ym, n, ROUND(r, 2) AS revenue,
       ROUND(r - pr, 2) AS delta,
       ROUND((n - pn) * (pr / pn), 4) AS volume_effect,
       ROUND(n * (r / n - pr / pn), 4) AS price_mix_effect
FROM seq WHERE pn IS NOT NULL
"""


@register("orders_revenue_bridge", _BRIDGE_SQL)
def orders_revenue_bridge(spark, sf_dir):
    """Month-over-month revenue bridge: Δrevenue decomposed into a
    volume effect (Δn at the OLD average price) and a price/mix
    effect (new volume times the change in average price) — the two
    terms sum to the delta EXACTLY by algebra:
    Δn·p̄₀ + n₁(p̄₁−p̄₀) = n₁p̄₁ − n₀p̄₀. Inputs are the 2dp-pinned
    monthly sums and integer counts, so both engines divide
    identical operands; one lag window over ~80 monthly rows."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("r"),
    )
    w = Window.orderBy("ym")
    seq = rev.select(
        "ym", "n", "r",
        F.lag("n").over(w).alias("pn"),
        F.lag("r").over(w).alias("pr"),
    ).filter(F.col("pn").isNotNull())
    c = F.col
    return seq.select(
        c("ym").cast("long").alias("ym"),
        c("n").cast("long").alias("n"),
        F.round("r", 2).alias("revenue"),
        F.round(c("r") - c("pr"), 2).alias("delta"),
        F.round((c("n") - c("pn")) * (c("pr") / c("pn")), 4).alias("volume_effect"),
        F.round(c("n") * (c("r") / c("n") - c("pr") / c("pn")), 4).alias(
            "price_mix_effect"
        ),
    )


# Price index numbers.
#
# The index-number problem (how much of revenue growth is PRICE?) has
# three classical answers: Laspeyres (base-period basket — overstates
# inflation), Paasche (current basket — understates), and Fisher's
# ideal index (their geometric mean, the one national statistics
# agencies publish). All are ratios of basket-weighted price sums over
# the parts present in both periods:
#
#   L_t = sum(p_t * q_0) / sum(p_0 * q_0)
#   P_t = sum(p_t * q_t) / sum(p_0 * q_t)
#   F_t = sqrt(L_t * P_t)
#
# Per-part monthly prices are quantity-weighted unit values (the
# standard unit-value index construction when transactions, not quoted
# prices, are the source).
_IDX_SQL = """
WITH m AS (
  SELECT l_partkey AS part,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS ym,
         ROUND(SUM(l_extendedprice), 6) / SUM(l_quantity) AS p,
         ROUND(SUM(l_quantity), 6) AS q
  FROM lineitem GROUP BY 1, 2),
base AS (
  SELECT part, p AS p0, q AS q0
  FROM m WHERE ym = (SELECT MIN(ym) FROM m)),
j AS (
  SELECT m.ym, m.part, m.p, m.q, b.p0, b.q0
  FROM m JOIN base b USING (part)
  WHERE m.ym > (SELECT MIN(ym) FROM m)),
agg AS (
  SELECT ym,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         ROUND(SUM(p * q0), 6) AS ptq0,
         ROUND(SUM(p0 * q0), 6) AS p0q0,
         ROUND(SUM(p * q), 6) AS ptqt,
         ROUND(SUM(p0 * q), 6) AS p0qt
  FROM j GROUP BY 1)
SELECT CAST(ym AS BIGINT) AS ym, n_parts,
       ROUND(ptq0 / p0q0, 6) AS laspeyres,
       ROUND(ptqt / p0qt, 6) AS paasche,
       ROUND(sqrt((ptq0 / p0q0) * (ptqt / p0qt)), 6) AS fisher
FROM agg
"""


@register("orders_price_index", _IDX_SQL)
def orders_price_index(spark, sf_dir):
    """Monthly Laspeyres/Paasche/Fisher price indexes over lineitem
    unit values, base = the first shipping month, computed over the
    parts present in both the base and the current month (the
    matched-sample convention). Fisher sits between its two bounds
    by construction (geometric mean — pinned in tests/test_ext66.py
    together with a numpy reimplementation and the homogeneity
    property: doubling all current prices doubles L and P exactly).

    Scale shape: one (part, month) aggregate over the fact table
    (map-side combinable), a broadcast-sized base join (parts
    table), and a months-sized rollup. TPC-H prices are synthetic
    and flat, so the indexes hover near 1 — the engine contract is
    the construction, and the oracle hash-checks every month."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        "l_extendedprice",
        "l_quantity",
    )
    m = li.groupBy("part", "ym").agg(
        (
            F.round(F.sum("l_extendedprice"), 6) / F.sum("l_quantity")
        ).alias("p"),
        F.round(F.sum("l_quantity"), 6).alias("q"),
    )
    first = m.agg(F.min("ym").alias("ym0"))
    base = (
        m.crossJoin(F.broadcast(first))
        .filter(F.col("ym") == F.col("ym0"))
        .select("part", F.col("p").alias("p0"), F.col("q").alias("q0"))
    )
    j = (
        m.crossJoin(F.broadcast(first))
        .filter(F.col("ym") > F.col("ym0"))
        .join(base, "part")
    )
    agg = j.groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(F.sum(F.col("p") * F.col("q0")), 6).alias("ptq0"),
        F.round(F.sum(F.col("p0") * F.col("q0")), 6).alias("p0q0"),
        F.round(F.sum(F.col("p") * F.col("q")), 6).alias("ptqt"),
        F.round(F.sum(F.col("p0") * F.col("q")), 6).alias("p0qt"),
    )
    las = F.col("ptq0") / F.col("p0q0")
    paa = F.col("ptqt") / F.col("p0qt")
    return agg.select(
        F.col("ym").cast("long").alias("ym"),
        "n_parts",
        F.round(las, 6).alias("laspeyres"),
        F.round(paa, 6).alias("paasche"),
        F.round(F.sqrt(las * paa), 6).alias("fisher"),
    )


# ABC/XYZ inventory classification.
#
# The planner's two-axis part segmentation: ABC splits the catalog by
# cumulative revenue share (A = the head that earns 80%, B to 95%,
# C the tail — orders_pareto's construction applied to parts), XYZ by
# demand REGULARITY — the coefficient of variation of monthly demand
# (X < 0.5 steady, Y < 1.0 variable, Z erratic). The cross matrix
# (AX = automate restocking ... CZ = stock to order) is the textbook
# output. Everything is rounded-moment arithmetic plus explicit-rank
# prefix shares; the boundary values are pinned by rounding BEFORE
# classification (the orders_pareto discipline).
_ABC_SQL = """
WITH pm AS (
  SELECT l_partkey AS part,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS ym,
         ROUND(SUM(l_quantity), 6) AS q,
         ROUND(SUM(l_extendedprice), 2) AS rev
  FROM lineitem GROUP BY 1, 2),
months AS (SELECT CAST(COUNT(DISTINCT ym) AS DOUBLE) AS nm FROM pm),
p AS (
  SELECT part, ROUND(SUM(rev), 2) AS rev,
         ROUND(SUM(q), 6) AS sq, ROUND(SUM(q * q), 6) AS sqq
  FROM pm GROUP BY 1),
x AS (
  SELECT part, rev,
         sq / nm AS mu,
         sqrt(GREATEST(sqq / nm - (sq / nm) * (sq / nm), 0)) AS sigma
  FROM p CROSS JOIN months),
cum AS (
  SELECT part, rev, mu, sigma,
         ROUND(SUM(rev) OVER (ORDER BY rev DESC, part), 2) AS crev,
         ROUND(SUM(rev) OVER (), 2) AS trev
  FROM x),
cls AS (
  SELECT part,
         CASE WHEN crev <= 0.80 * trev THEN 'A'
              WHEN crev <= 0.95 * trev THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN ROUND(sigma / mu, 6) < 0.5 THEN 'X'
              WHEN ROUND(sigma / mu, 6) < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM cum)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM cls GROUP BY 1, 2
"""


@register("orders_abc_xyz", _ABC_SQL)
def orders_abc_xyz(spark, sf_dir):
    """ABC x XYZ census of the part catalog: revenue prefix shares
    in (rev desc, part) order with 2dp-rounded running totals
    (orders_pareto's flip-proofing), demand CV from 6dp-rounded
    monthly moments over the FULL month grid (a part absent in a
    month counts as zero demand — the sums divide by the calendar
    month count, not the part's active months; that zero-inclusion
    is what makes intermittent demand read as erratic). CV bands are
    compared after 6dp rounding. Matrix semantics pinned in
    tests/test_ext76.py against a pandas recomputation plus
    constructed steady/erratic series.

    Scale shape: one (part, month) aggregate, one part rollup, one
    ranked prefix window over the part table (catalog-sized — the
    global-order parity convention; the two-phase distributed form
    is pipeline_token_pack's), one 9-cell census."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        "l_quantity",
        "l_extendedprice",
    )
    pm = li.groupBy("part", "ym").agg(
        F.round(F.sum("l_quantity"), 6).alias("q"),
        F.round(F.sum("l_extendedprice"), 2).alias("rev"),
    )
    months = pm.agg(
        F.countDistinct("ym").cast("double").alias("nm")
    )
    p = pm.groupBy("part").agg(
        F.round(F.sum("rev"), 2).alias("rev"),
        F.round(F.sum("q"), 6).alias("sq"),
        F.round(F.sum(F.col("q") * F.col("q")), 6).alias("sqq"),
    )
    x = p.crossJoin(F.broadcast(months)).select(
        "part",
        "rev",
        (F.col("sq") / F.col("nm")).alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sqq") / F.col("nm")
                - (F.col("sq") / F.col("nm")) * (F.col("sq") / F.col("nm")),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    w = Window.orderBy(F.col("rev").desc(), "part")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = x.select(
        "part",
        "mu",
        "sigma",
        F.round(F.sum("rev").over(w), 2).alias("crev"),
        F.round(F.sum("rev").over(wall), 2).alias("trev"),
    )
    cv = F.round(F.col("sigma") / F.col("mu"), 6)
    cls = cum.select(
        F.when(F.col("crev") <= 0.80 * F.col("trev"), "A")
        .when(F.col("crev") <= 0.95 * F.col("trev"), "B")
        .otherwise("C")
        .alias("abc"),
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias("xyz"),
    )
    return cls.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# orders_customer_npv — discounted customer value
# ---------------------------------------------------------------------------
_NPV_RATE = 0.1  # annual discount rate

_NPV_SQL = f"""
WITH t0 AS (SELECT MIN(o_orderdate) AS d0 FROM orders),
cf AS (SELECT o_custkey,
              o_totalprice
                / pow(1 + {_NPV_RATE},
                      date_diff('day', d0, o_orderdate) / 365.0) AS pv
       FROM orders CROSS JOIN t0),
npv AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(pv), 2) AS npv
        FROM cf GROUP BY 1)
SELECT o_custkey, n_orders, npv
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY npv DESC, o_custkey) AS rnk
      FROM npv)
WHERE rnk <= 50
"""


@register("orders_customer_npv", _NPV_SQL)
def orders_customer_npv(spark, sf_dir):
    """Top-50 customers by net present value: every order's total
    discounted back to the first order date at 10%/year (continuous
    day-resolution compounding — the standard CLV denominator),
    summed per customer. Complements orders_cohort_ltv (undiscounted
    cohort curves) with the time-value-correct ranking. Ranking is
    on the 2dp-ROUNDED npv with custkey tie-break (quantized-winner
    rule).

    Shape: one scalar min-date broadcast, one map-side discount, one
    per-customer aggregate, TakeOrdered top-50."""
    o = _t(spark, sf_dir, "orders")
    t0 = o.agg(F.min("o_orderdate").alias("d0"))
    cf = o.crossJoin(F.broadcast(t0)).select(
        "o_custkey",
        (
            F.col("o_totalprice")
            / F.pow(
                F.lit(1 + _NPV_RATE),
                F.datediff(F.col("o_orderdate"), F.col("d0")) / 365.0,
            )
        ).alias("pv"),
    )
    npv = cf.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("pv"), 2).alias("npv"),
    )
    return (
        npv.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("npv").desc(), "o_custkey")),
        )
        .filter(F.col("rnk") <= 50)
        .select("o_custkey", "n_orders", "npv")
    )


# Scoring-model evaluation + heavy tails + centroid classification.
#
# WOE/IV binning (the credit-scorecard / feature-selection standard),
# AUC via the Mann-Whitney rank identity (with Gini = 2·AUC − 1 — the
# ranking half of model evaluation next to ml_calibration_ece's
# probability half), the Hill estimator of a power-law tail exponent
# (the degree-distribution diagnostic behind every skew-policy
# decision in this repo), and a nearest-centroid (Rocchio) classifier
# over the labelled embeddings.

# ---------------------------------------------------------------------------
# orders_credit_scorecard — WOE / information value by price decile
# ---------------------------------------------------------------------------
_WOE_SQL = """
WITH d AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
         o_totalprice AS x
  FROM orders),
rk AS (SELECT bad, x, NTILE(10) OVER (ORDER BY x, bad) AS bucket FROM d),
b AS (SELECT bucket,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(bad) AS DOUBLE) AS nbad,
             CAST(COUNT(*) - SUM(bad) AS DOUBLE) AS ngood
      FROM rk GROUP BY bucket),
t AS (SELECT SUM(nbad) AS tbad, SUM(ngood) AS tgood FROM b)
SELECT bucket,
       CAST(n AS BIGINT) AS n,
       ROUND(nbad / tbad, 6) AS pct_bad,
       ROUND(ngood / tgood, 6) AS pct_good,
       ROUND(ln((ngood / tgood) / (nbad / tbad)), 6) AS woe,
       ROUND(SUM((ngood / tgood - nbad / tbad)
                 * ln((ngood / tgood) / (nbad / tbad))) OVER (), 6) AS iv
FROM b CROSS JOIN t
"""


@register("orders_credit_scorecard", _WOE_SQL)
def orders_credit_scorecard(spark, sf_dir, _debug: dict | None = None):
    """Weight-of-evidence scorecard binning of total price against
    the F-status "bad" flag: 10 equal-count buckets (NTILE with the
    deterministic (x, bad) tie-break so both engines cut identical
    bins), per-bucket WOE = ln(%good/%bad), and the feature's
    information value IV = Σ(%good − %bad)·WOE — the credit-risk /
    feature-screening standard (IV < 0.02 useless, > 0.3 strong).
    Counts are exact integers; only the ratios round.

    Shape (r14 rewrite, operators/ranks.py): NO full-table NTILE
    window. Every (x, bad) group is homogeneous in the label, so
    NTILE's per-bucket counts depend only on which global positions
    a group's rows occupy — minrank..cum from the distinct-value
    prefix-sum — intersected with the 10 bucket fences (exact
    ⌈n/10⌉/⌊n/10⌋ spans from the one-row total). One parallel
    groupBy over the fact, a |distinct|-row prefix-sum, a
    broadcast-10-row interval-overlap join; identical counts to the
    NTILE form (ties split across fences contribute the same label
    either way), hash-equal to the unchanged oracle."""
    from stockify_spark.operators.ranks import (
        distinct_value_ranks,
        ntile_bucket_bounds,
    )

    d = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
        F.col("o_totalprice").alias("x"),
    )
    g = distinct_value_ranks(
        d.select(F.struct(F.col("x"), F.col("bad")).alias("k")), "k"
    )
    if _debug is not None:
        _debug["rank_frame"] = g
    fences = ntile_bucket_bounds(
        spark, d.agg(F.count(F.lit(1)).cast("long").alias("n_total")), 10
    )
    take = (
        F.least(F.col("cum"), F.col("b_end"))
        - F.greatest(F.col("minrank"), F.col("b_start"))
        + 1
    )
    ov = g.join(
        F.broadcast(fences),
        (F.col("minrank") <= F.col("b_end"))
        & (F.col("cum") >= F.col("b_start")),
    ).select("bucket", F.col("k.bad").alias("bad"), take.alias("take"))
    b = ov.groupBy("bucket").agg(
        F.sum("take").cast("double").alias("n"),
        F.sum(F.col("take") * F.col("bad")).cast("double").alias("nbad"),
        (F.sum("take") - F.sum(F.col("take") * F.col("bad")))
        .cast("double")
        .alias("ngood"),
    )
    t = b.agg(F.sum("nbad").alias("tbad"), F.sum("ngood").alias("tgood"))
    pg = F.col("ngood") / F.col("tgood")
    pb = F.col("nbad") / F.col("tbad")
    woe = F.log(pg / pb)
    scored = b.crossJoin(F.broadcast(t))
    return scored.select(
        "bucket",
        F.col("n").cast("bigint").alias("n"),
        F.round(pb, 6).alias("pct_bad"),
        F.round(pg, 6).alias("pct_good"),
        F.round(woe, 6).alias("woe"),
        F.round(
            F.sum((pg - pb) * woe).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            6,
        ).alias("iv"),
    )


# ---------------------------------------------------------------------------
# orders_price_elasticity — log-log demand regression per brand
# ---------------------------------------------------------------------------
_ELAST_SQL = """
WITH d AS (
  SELECT p_brand AS brand,
         ln(l_extendedprice / l_quantity) AS lp,
         ln(l_quantity) AS lq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_quantity > 0)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COVAR_POP(lp, lq) / VAR_POP(lp), 6) AS elasticity,
       ROUND(AVG(lq) - (COVAR_POP(lp, lq) / VAR_POP(lp)) * AVG(lp), 6)
         AS log_intercept
FROM d GROUP BY brand
"""


@register("orders_price_elasticity", _ELAST_SQL)
def orders_price_elasticity(spark, sf_dir):
    """Own-price elasticity of demand per brand by the log-log OLS
    identity: ε = cov(ln p, ln q)/var(ln p) — the constant-elasticity
    regression every pricing team fits first (unit price from the
    extended/quantity ratio). The slope-as-moments form needs ONE
    aggregate per brand, no iterative fit (the ml_linreg_group
    identity applied to the econ question).

    Shape: one broadcast dim join (part), one per-brand moment
    aggregate with map-side combine — a single fact scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
        F.log("l_quantity").alias("lq"),
    )
    slope = F.covar_pop("lp", "lq") / F.var_pop("lp")
    return d.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(slope, 6).alias("elasticity"),
        F.round(F.avg("lq") - slope * F.avg("lp"), 6).alias("log_intercept"),
    )
