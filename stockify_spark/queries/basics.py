"""Scans, filters, top-k, sampling, set operations, subqueries and
scalar functions: the reference's filter surface (stockify.cu:89-122)
plus the SQL building blocks around it, and data-quality probes."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf

from stockify_spark.functions.text import tokens
from stockify_spark.llm.similarity import norm
from stockify_spark.operators import (
    compare,
    filter_rows,
    range_scan,
    selection_vector,
    top_k,
    top_k_per_group,
)
from stockify_spark.operators.joins import fact_join, semi_join
from stockify_spark.operators.setops import except_, intersect, union_all
from stockify_spark.registry import _t, register


# ---------------------------------------------------------------------------
# F1-F6 — filters (SURVEY §2.2). Full comparator algebra + composition.
# ---------------------------------------------------------------------------
# The reference's primary experiment (volume >= k,
# stockify.cu:226-246): the most reference-faithful benched row.
@register(
    "filter_ge",
    "SELECT * FROM lineitem WHERE l_quantity >= 25",
    bench="paired",
)
def filter_ge(spark, sf_dir):
    """F1-F5 shape: col >= literal (filterStocksBy*, stockify.cu:89-116)."""
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_quantity", "ge", 25.0))


@register(
    "filter_gt",
    "SELECT * FROM lineitem WHERE l_extendedprice > 50000",
)
def filter_gt(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_extendedprice", "gt", 50000.0))


@register(
    "filter_lt",
    "SELECT * FROM lineitem WHERE l_discount < 0.03",
)
def filter_lt(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_discount", "lt", 0.03))


@register(
    "filter_le",
    "SELECT * FROM lineitem WHERE l_quantity <= 10",
)
def filter_le(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_quantity", "le", 10.0))


@register(
    "filter_eq",
    "SELECT * FROM lineitem WHERE l_linenumber = 3",
)
def filter_eq(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_linenumber", "eq", 3))


@register(
    "filter_ne",
    "SELECT * FROM lineitem WHERE l_returnflag <> 'N'",
)
def filter_ne(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_returnflag", "ne", "N"))


@register(
    "filter_and",
    "SELECT * FROM lineitem WHERE l_quantity >= 25 AND l_discount >= 0.05",
    bench="paired",
)
def filter_and(spark, sf_dir):
    """F6: conjunctive filter (stockify.cu:119-122), generalized to
    n-ary via filter_rows."""
    return filter_rows(
        _t(spark, sf_dir, "lineitem"),
        compare("l_quantity", "ge", 25.0),
        compare("l_discount", "ge", 0.05),
    )


@register(
    "filter_or_not",
    "SELECT * FROM lineitem WHERE l_returnflag = 'R' OR NOT (l_quantity < 40)",
)
def filter_or_not(spark, sf_dir):
    """OR/NOT composition — declared intent at stockify.cu:78-81."""
    df = _t(spark, sf_dir, "lineitem")
    return df.filter(compare("l_returnflag", "eq", "R") | ~compare("l_quantity", "lt", 40.0))


@register(
    "filter_empty",
    "SELECT * FROM lineitem WHERE l_extendedprice >= 1e9",
)
def filter_empty(spark, sf_dir):
    """Empty-result probe (FIXTURES.md: selectivity-0 edge)."""
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_extendedprice", "ge", 1e9))


@register(
    "filter_selection_vector",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_quantity >= 25 AS flag FROM lineitem",
)
def filter_selection_vector(spark, sf_dir):
    """The reference's uncompacted bool-per-row output surface
    (bool* results, stockify.cu:89-92)."""
    df = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return selection_vector(df, compare("l_quantity", "ge", 25.0))


# ---------------------------------------------------------------------------
# X1-X5 — sort / top-k / range scan (SURVEY §2.5, §4.3).
# ---------------------------------------------------------------------------
@register(
    "topk_orders",
    "SELECT o_orderkey, o_totalprice FROM orders"
    " ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    bench="paired",
)
def topk_orders(spark, sf_dir):
    """ORDER BY + LIMIT → TakeOrderedAndProject (per-partition heaps,
    k-row driver merge; no global sort at any scale)."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return top_k(df, 100, F.col("o_totalprice").desc(), F.col("o_orderkey"))


@register(
    "topk_per_group",
    "SELECT * FROM (SELECT o_orderkey, o_orderpriority, o_totalprice,"
    " ROW_NUMBER() OVER (PARTITION BY o_orderpriority"
    " ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3",
)
def topk_per_group_q(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    return top_k_per_group(
        df,
        ["o_orderpriority"],
        3,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )


@register(
    "range_scan_price",
    "SELECT * FROM lineitem WHERE l_extendedprice >= 95000",
    bench="paired",
)
def range_scan_price(spark, sf_dir):
    """Experiment-3 probe shape (volume >= 1.8e6, stockify.cu:674) on
    the stand-in column; over a sorted layout this is row-group-
    skipped (bench measures the ratio, BASELINE.md E2)."""
    return range_scan(_t(spark, sf_dir, "lineitem"), "l_extendedprice", 95000.0)


# Extension queries (SURVEY §7.6): group-by, joins, set ops, scalar
# functions, streaming-equivalent windows, and the LLM-pipeline
# operators. Registered into the same driver-contract registry as the
# parity queries (see registry.py for the determinism conventions).

# ---------------------------------------------------------------------------
# Set operations (SURVEY §7.6.3)
# ---------------------------------------------------------------------------
@register(
    "setop_union_all",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'"
    " UNION ALL SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'",
    bench="paired",
)
def setop_union_all(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    f = orders.filter(F.col("o_orderstatus") == "F").drop("o_orderstatus")
    o = orders.filter(F.col("o_orderstatus") == "O").drop("o_orderstatus")
    return union_all(f, o)


@register(
    "setop_intersect",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    " INTERSECT SELECT o_custkey FROM orders",
)
def setop_intersect(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = _t(spark, sf_dir, "orders").select("o_custkey")
    return intersect(a, b)


@register(
    "setop_except",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    " EXCEPT SELECT o_custkey FROM orders",
)
def setop_except(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = _t(spark, sf_dir, "orders").select("o_custkey")
    return except_(a, b)


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY §7.6.4)
# ---------------------------------------------------------------------------
@register(
    "fn_date",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS order_year,"
    " CAST(month(o_orderdate) AS BIGINT) AS order_month,"
    " CAST(day(o_orderdate) AS BIGINT) AS order_day,"
    " CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,"
    " CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since"
    " FROM orders",
)
def fn_date(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return df.select(
        "o_orderkey",
        F.year(d).cast("long").alias("order_year"),
        F.month(d).cast("long").alias("order_month"),
        F.dayofmonth(d).cast("long").alias("order_day"),
        F.to_date(F.date_trunc("month", d)).alias("month_start"),
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
    )


@register(
    "fn_string",
    "SELECT p_partkey, UPPER(p_name) AS name_upper, CAST(LENGTH(p_name) AS BIGINT) AS name_len,"
    " SUBSTRING(p_name, 1, 5) AS name_prefix, CONCAT(p_brand, '#', p_type) AS brand_type,"
    " split_part(p_type, ' ', 1) AS type_head, p_name LIKE '%a%' AS has_a"
    " FROM part",
)
def fn_string(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


@register(
    "fn_json",
    "SELECT event_id, json_extract_string(props, '$.k') AS k_str,"
    " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num FROM events",
)
def fn_json(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return df.select("event_id", k.alias("k_str"), k.cast("long").alias("k_num"))


@register(
    "fn_math",
    "SELECT l_orderkey, l_linenumber, ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,"
    " ROUND(LN(l_extendedprice), 6) AS price_ln,"
    " ROUND(POWER(l_quantity, 2), 6) AS qty_sq,"
    " CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,"
    " CAST(l_orderkey % 7 AS BIGINT) AS key_mod,"
    " ROUND(ABS(l_discount - 0.05), 6) AS disc_dev FROM lineitem",
    bench="paired",
)
def fn_math(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", 2), 6).alias("qty_sq"),
        F.ceil(F.col("l_discount") * 100).cast("long").alias("disc_pct_ceil"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
    )


@register(
    "fn_conditional",
    "SELECT c_custkey,"
    " CASE WHEN c_acctbal < 0 THEN 'negative' WHEN c_acctbal < 5000 THEN 'low'"
    " ELSE 'high' END AS balance_band,"
    " COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other"
    " FROM customer",
)
def fn_conditional(spark, sf_dir):
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_or_other"
        ),
    )


@register(
    "fn_array",
    "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,"
    " ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,"
    " ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component FROM embeddings",
)
def fn_array(spark, sf_dir):
    df = _t(spark, sf_dir, "embeddings")
    return df.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(norm("embedding"), 4).alias("l2_norm"),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("first_component"),
    )


# Subqueries (decorrelated the way Catalyst does it — joins, not per-row
# probes), TPC-H query shapes, range/rank window frames, regexp
# functions, multiset set ops, sliding/session event-time windows with
# exact SQL oracles, and the probabilistic / multimodal operators (rows-
# only checks, recall proven in tests).
#
# Same determinism conventions as registry.py.

# ---------------------------------------------------------------------------
# Subqueries (SURVEY §2.6 — absent from the reference). Each is the
# decorrelated plan Catalyst itself would produce: scalar subquery →
# broadcast of a 1-row aggregate; IN → left-semi join; correlated
# aggregate → groupBy + equi-join. At 100 TB that means zero per-row
# subquery execution and one bounded broadcast.
# ---------------------------------------------------------------------------
@register(
    "subquery_scalar",
    "SELECT p_partkey, p_retailprice FROM part"
    " WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)",
)
def subquery_scalar(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    threshold = part.agg(F.avg("p_retailprice").alias("_avg_price"))
    return (
        part.crossJoin(F.broadcast(threshold))
        .filter(F.col("p_retailprice") > F.col("_avg_price"))
        .select("p_partkey", "p_retailprice")
    )


@register(
    "subquery_in",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
    " WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
)
def subquery_in(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return semi_join(orders, F.broadcast(building), orders["o_custkey"] == F.col("c_custkey")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "subquery_correlated",
    "SELECT l1.l_orderkey, l1.l_partkey, l1.l_quantity FROM lineitem l1"
    " WHERE l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2"
    " WHERE l2.l_partkey = l1.l_partkey)",
    bench="paired",
)
def subquery_correlated(spark, sf_dir):
    """TPC-H Q17 shape. Decorrelated: one pass computes per-part avg
    (partial/final agg), joined back on the part key — the correlated
    probe becomes a single shuffle keyed on l_partkey."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_threshold")
    )
    return (
        fact_join(li, per_part, li["l_partkey"] == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_threshold"))
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


# ---------------------------------------------------------------------------
# Regexp scalar functions (§7.6.4 continued).
# ---------------------------------------------------------------------------
@register(
    "fn_regexp",
    "SELECT p_partkey, regexp_extract(p_name, '([a-z]+)', 1) AS first_word,"
    " regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,"
    " CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT) AS n_words,"
    " starts_with(p_name, 'small') AS is_small FROM part",
)
def fn_regexp(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.expr("size(regexp_extract_all(p_name, '[a-z]+', 0))").cast("long").alias("n_words"),
        F.col("p_name").startswith("small").alias("is_small"),
    )


# ---------------------------------------------------------------------------
# Multiset set operations (§7.6.3 continued: bag semantics).
# ---------------------------------------------------------------------------
@register(
    "setop_intersect_all",
    "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'"
    " INTERSECT ALL SELECT l_partkey FROM lineitem WHERE l_quantity >= 45",
)
def setop_intersect_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    return a.intersectAll(b)


@register(
    "setop_except_all",
    "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'"
    " EXCEPT ALL SELECT l_partkey FROM lineitem WHERE l_quantity >= 45",
)
def setop_except_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    return a.exceptAll(b)


@register(
    "setop_union_by_name",
    "SELECT c_custkey AS entity_key, c_acctbal AS balance FROM customer"
    " UNION ALL SELECT s_suppkey, s_acctbal FROM supplier",
)
def setop_union_by_name(spark, sf_dir):
    """unionByName: schema aligned by column NAME (the two inputs
    project in different physical orders)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"), F.col("c_acctbal").alias("balance")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("balance"), F.col("s_suppkey").alias("entity_key")
    )
    return cust.unionByName(supp)


# Statistical aggregates, ordered collection aggregates, array
# explode/unnest, additional date arithmetic, null handling, and the
# pandas-UDF surface verified against a declarative SQL oracle. Same
# determinism conventions as registry.py.

# ---------------------------------------------------------------------------
# Array explode / unnest (§7.6.4 continued).
# ---------------------------------------------------------------------------
@register(
    "fn_explode",
    "SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token"
    " FROM documents WHERE doc_id < 50",
)
def fn_explode(spark, sf_dir):
    """Row-generating explode: one output row per token. The scale
    note is explode-early-project-late — explode only the columns the
    downstream needs, or row width multiplies by fan-out."""

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select("doc_id", F.explode(tokens("text")).alias("token"))


@register(
    "fn_posexplode",
    "SELECT doc_id, CAST(generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) - 1"
    " AS INT) AS pos, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token"
    " FROM documents WHERE doc_id < 50",
)
def fn_posexplode(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))


# ---------------------------------------------------------------------------
# Date arithmetic beyond fn_date (§7.6.4 continued).
# ---------------------------------------------------------------------------
@register(
    "fn_date_arith",
    "SELECT o_orderkey,"
    " CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,"
    " last_day(CAST(o_orderdate AS DATE)) AS month_end,"
    # DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based (Sun=1)
    " CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,"
    " CAST(quarter(o_orderdate) AS INT) AS qtr,"
    " ROUND((CAST(epoch_ms(TIMESTAMP '2000-06-15') AS DOUBLE)"
    "  - CAST(epoch_ms(o_orderdate) AS DOUBLE)) / 86400000.0, 6) AS days_to_y2k5"
    " FROM orders",
)
def fn_date_arith(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return df.select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.round(
            (
                F.unix_millis(F.lit("2000-06-15").cast("timestamp"))
                # parquet gives TIMESTAMP_NTZ; cast to LTZ (session is
                # UTC) for the epoch-millis arithmetic
                - F.unix_millis(F.col("o_orderdate").cast("timestamp"))
            ).cast("double")
            / 86400000.0,
            6,
        ).alias("days_to_y2k5"),
    )


@register(
    "fn_null_handling",
    "SELECT c_custkey,"
    " COALESCE(NULLIF(c_acctbal, 0.0), -1.0) AS bal_or_sentinel,"
    " NULLIF(c_mktsegment, 'BUILDING') IS NULL AS is_building,"
    " ifnull(NULLIF(c_name, c_name), 'redacted') AS always_redacted"
    " FROM customer",
)
def fn_null_handling(spark, sf_dir):
    """NULL algebra (absent from the reference — NULLs do not exist
    there, SURVEY §1.1): nullif/coalesce/ifnull/isnull compose the
    three-valued logic the engine inherits from Spark SQL."""
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_acctbal"), F.lit(0.0)), F.lit(-1.0)).alias(
            "bal_or_sentinel"
        ),
        F.isnull(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))).alias("is_building"),
        F.ifnull(F.nullif(F.col("c_name"), F.col("c_name")), F.lit("redacted")).alias(
            "always_redacted"
        ),
    )


# ---------------------------------------------------------------------------
# The pandas-UDF surface (§7.6.7), verified against a declarative
# oracle: the blessed extension mechanism must produce the same
# numbers as the pure-SQL formulation.
# ---------------------------------------------------------------------------
@register(
    "udf_group_zscore",
    "SELECT event_id, user_id, ROUND((value - avg_v) / NULLIF(sd_v, 0), 6) AS zscore"
    " FROM (SELECT event_id, user_id, value,"
    " AVG(value) OVER (PARTITION BY user_id) AS avg_v,"
    " stddev_samp(value) OVER (PARTITION BY user_id) AS sd_v FROM events)",
)
def udf_group_zscore(spark, sf_dir):
    """Per-user z-score via applyInPandas (grouped-map pandas UDF).
    Deliberately also expressible as a window — the oracle runs that
    formulation, proving the Arrow batch path computes identically.
    The UDF shape is the template for logic that ISN'T expressible
    declaratively (model scoring, tokenizers, custom sketches)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)
        mean = pdf["value"].mean()
        z = (pdf["value"] - mean) / sd if sd and sd == sd else pd.Series([None] * len(pdf))
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z.round(6)}
        )

    return ev.groupBy("user_id").applyInPandas(
        zscore, "event_id bigint, user_id bigint, zscore double"
    )


@register(
    "udf_scalar_pandas",
    "SELECT l_orderkey, l_linenumber,"
    " ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge"
    " FROM lineitem WHERE l_quantity >= 40",
)
def udf_scalar_pandas(spark, sf_dir):
    """Scalar pandas UDF (Arrow-vectorized) vs the identical column
    expression in the oracle — same IEEE ops, same order, exact match.
    In production prefer the built-in expression (stays in codegen);
    this entry pins that the UDF boundary itself is lossless."""

    @F.pandas_udf(T.DoubleType())
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return (price * (1 - disc) * (1 + tax)).round(6)

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 40)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@register(
    "filter_between_in_like",
    "SELECT l_orderkey, l_linenumber FROM lineitem"
    " WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')"
    " AND l_linestatus LIKE 'F%'",
)
def filter_between_in_like(spark, sf_dir):
    """BETWEEN / IN / LIKE — the remaining predicate forms beyond the
    comparator algebra of F1-F6; all three push down to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
    ).select("l_orderkey", "l_linenumber")


@register(
    "setop_union_distinct",
    "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
    " UNION SELECT o_custkey FROM orders WHERE o_totalprice >= 300000",
)
def setop_union_distinct(spark, sf_dir):
    """UNION (set semantics) = union all + distinct — one hash shuffle
    on the row, vs UNION ALL's zero."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.filter(F.col("o_totalprice") >= 300000).select("o_custkey")
    return a.union(b).distinct()


@register(
    "sample_seeded",
    # Seed-independent-invariant oracle: the RNG stream is engine-
    # specific, so each engine samples with ITS OWN seeded Bernoulli
    # and emits booleans over shared invariants — sample size inside
    # 6-sigma binomial bounds (p=0.2: flake odds ~1e-9), ids distinct,
    # ids inside the corpus id range — plus the exact corpus count.
    # Hash-exact comparison that still verifies the sampler behaves.
    "WITH t AS (SELECT COUNT(*) AS n_total, MIN(doc_id) AS dmn, MAX(doc_id) AS dmx"
    " FROM documents),"
    " s AS (SELECT doc_id FROM documents USING SAMPLE 20 PERCENT (bernoulli, 42)),"
    " ss AS (SELECT COUNT(*) AS n_sample, COUNT(DISTINCT doc_id) AS n_distinct,"
    " MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM s)"
    " SELECT n_total,"
    " ABS(n_sample - 0.2 * n_total) <= 6 * SQRT(n_total * 0.16) AS count_in_bounds,"
    " n_distinct = n_sample AS ids_distinct,"
    " mn >= dmn AND mx <= dmx AS ids_in_range"
    " FROM t, ss",
)
def sample_seeded(spark, sf_dir):
    """Seeded Bernoulli sampling — the corpus-downsampling primitive
    (every training-data pipeline ends in one). Deterministic for a
    fixed seed + input layout; the RNG stream is engine-specific, so
    the oracle checks seed-independent invariants (see SQL) instead
    of raw ids. The sample itself is map-side only: no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.sample(fraction=0.2, seed=42).select("doc_id")
    stats = s.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.min("doc_id").alias("dmn"),
        F.max("doc_id").alias("dmx"),
    )
    return tot.crossJoin(stats).select(
        "n_total",
        (F.abs(F.col("n_sample") - 0.2 * F.col("n_total"))
         <= 6 * F.sqrt(F.col("n_total") * 0.16)).alias("count_in_bounds"),
        (F.col("n_distinct") == F.col("n_sample")).alias("ids_distinct"),
        ((F.col("mn") >= F.col("dmn")) & (F.col("mx") <= F.col("dmx"))).alias("ids_in_range"),
    )


@register(
    "sample_stratified",
    # Same seed-independent-invariant treatment as sample_seeded, per
    # stratum: each engine draws its OWN Bernoulli sample at the
    # per-language fraction and emits (lang, exact stratum size,
    # sample-count-within-6-sigma, ids-distinct) — hash-exact while
    # verifying the stratified sampler per group.
    "WITH f AS (SELECT lang, doc_id,"
    " CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END AS p FROM documents),"
    " s AS (SELECT lang, doc_id, p FROM f WHERE random() < p),"
    " t AS (SELECT lang, COUNT(*) AS n_docs,"
    " CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END AS p FROM documents GROUP BY lang),"
    " ss AS (SELECT lang, COUNT(*) AS n_sample,"
    " COUNT(DISTINCT doc_id) AS n_distinct FROM s GROUP BY lang)"
    " SELECT t.lang, n_docs,"
    " ABS(COALESCE(n_sample, 0) - t.p * n_docs)"
    "  <= 6 * SQRT(n_docs * t.p * (1 - t.p)) AS count_in_bounds,"
    " COALESCE(n_distinct, 0) = COALESCE(n_sample, 0) AS ids_distinct"
    " FROM t LEFT JOIN ss ON t.lang = ss.lang",
)
def sample_stratified(spark, sf_dir):
    """Stratified sampling by language — per-stratum fractions keep
    low-resource languages from vanishing under uniform sampling.
    The oracle checks per-stratum seed-independent invariants (see
    SQL): the RNG stream is engine-specific, the binomial bounds are
    not."""
    docs = _t(spark, sf_dir, "documents")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    fractions = {lg: (0.5 if lg != "en" else 0.1) for lg in langs}
    s = docs.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")
    p = F.when(F.col("lang") == "en", 0.1).otherwise(0.5)
    t = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).withColumn("p", p)
    ss = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )
    joined = t.join(ss, "lang", "left")
    return joined.select(
        "lang",
        "n_docs",
        (
            F.abs(F.coalesce(F.col("n_sample"), F.lit(0)) - F.col("p") * F.col("n_docs"))
            <= 6 * F.sqrt(F.col("n_docs") * F.col("p") * (1 - F.col("p")))
        ).alias("count_in_bounds"),
        (
            F.coalesce(F.col("n_distinct"), F.lit(0))
            == F.coalesce(F.col("n_sample"), F.lit(0))
        ).alias("ids_distinct"),
    )


@register(
    "fn_string2",
    "SELECT p_partkey,"
    " rpad(p_name, 20, '.') AS name_padded,"
    " lpad(p_brand, 12, '*') AS brand_padded,"
    " translate(p_type, 'AEO', 'aeo') AS type_translated,"
    " reverse(p_name) AS name_reversed,"
    " repeat(left(p_name, 2), 3) AS prefix_thrice,"
    " right(p_type, 4) AS type_tail FROM part",
)
def fn_string2(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.rpad("p_name", 20, ".").alias("name_padded"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.translate("p_type", "AEO", "aeo").alias("type_translated"),
        F.reverse("p_name").alias("name_reversed"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("prefix_thrice"),
        F.substring(F.col("p_type"), -4, 4).alias("type_tail"),
    )


@register(
    "fn_array_ops",
    "SELECT p_partkey,"
    " array_to_string(words, ' ') AS words_str,"
    " CAST(len(words) AS INT) AS n_words,"
    " array_to_string(list_sort(words), '|') AS words_sorted_str,"
    " list_contains(words, 'widget') AS has_widget,"
    " CAST(COALESCE(list_position(words, 'widget'), 0) AS INT) AS widget_pos,"
    " words[1] AS first_word,"
    " array_to_string(list_sort(words), '-') AS joined"
    " FROM (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)",
)
def fn_array_ops(spark, sf_dir):
    """Array algebra over a derived array column. Ordinal conventions
    reconciled in the oracle: both engines are 1-based for element
    access; Spark's array_position returns 0 for missing where DuckDB
    returns NULL (coalesced). Array-valued intermediates (words,
    words_sorted) are scalarized with array_join before projection:
    the driver's pandas canonicalization cannot hash list cells, and
    a string rendering carries identical information for the
    differential check."""
    df = _t(spark, sf_dir, "part").select(
        "p_partkey", F.split("p_name", " ").alias("words")
    )
    return df.select(
        "p_partkey",
        F.array_join("words", " ").alias("words_str"),
        F.size("words").cast("int").alias("n_words"),
        F.array_join(F.sort_array("words"), "|").alias("words_sorted_str"),
        F.array_contains("words", "widget").alias("has_widget"),
        F.array_position("words", "widget").cast("int").alias("widget_pos"),
        F.element_at("words", 1).alias("first_word"),
        F.array_join(F.sort_array("words"), "-").alias("joined"),
    )


@register(
    "fn_crypto_hash",
    "SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256"
    " FROM customer",
)
def fn_crypto_hash(spark, sf_dir):
    """Deterministic cryptographic digests — the cross-engine-stable
    key material for fingerprinting and salting (cf. exact dedup)."""
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
    )


@register(
    "fn_trig",
    "SELECT l_orderkey, l_linenumber,"
    " ROUND(SIN(l_discount), 6) AS sin_d, ROUND(COS(l_discount), 6) AS cos_d,"
    " ROUND(ATAN2(l_quantity, l_extendedprice), 6) AS angle,"
    " ROUND(DEGREES(l_discount), 6) AS disc_deg,"
    " ROUND(EXP(l_discount), 6) AS disc_exp,"
    " ROUND(LOG10(l_extendedprice), 6) AS price_log10 FROM lineitem",
)
def fn_trig(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin("l_discount"), 6).alias("sin_d"),
        F.round(F.cos("l_discount"), 6).alias("cos_d"),
        F.round(F.atan2("l_quantity", "l_extendedprice"), 6).alias("angle"),
        F.round(F.degrees("l_discount"), 6).alias("disc_deg"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
    )


@register(
    "fn_least_greatest",
    "SELECT l_orderkey, l_linenumber,"
    " LEAST(l_quantity, l_discount * 100, l_tax * 100) AS smallest,"
    " GREATEST(l_quantity, l_discount * 100, l_tax * 100) AS largest FROM lineitem",
)
def fn_least_greatest(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.col("l_quantity"), F.col("l_discount") * 100, F.col("l_tax") * 100).alias(
            "smallest"
        ),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100, F.col("l_tax") * 100).alias(
            "largest"
        ),
    )


# ---------------------------------------------------------------------------
# Pareto skyline — the undominated (price DESC, quantity ASC)
# frontier, computed as a running-min scan over per-price minima.
# No float arithmetic at all: comparisons only.
# ---------------------------------------------------------------------------
@register(
    "analytics_skyline",
    "WITH pp AS (SELECT l_extendedprice AS price, MIN(l_quantity) AS qty"
    "  FROM lineitem GROUP BY 1),"
    " r AS (SELECT price, qty, MIN(qty) OVER"
    "   (ORDER BY price DESC"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above"
    "  FROM pp)"
    " SELECT price, qty FROM r"
    " WHERE best_above IS NULL OR qty < best_above",
    bench="paired",
)
def analytics_skyline(spark, sf_dir):
    """2-D Pareto skyline (maximize price, minimize quantity): a
    point survives iff its quantity beats the running minimum over
    all strictly-higher prices. Group-by price collapses duplicates
    (and resolves equal-price domination exactly), then ONE ordered
    window pass replaces the quadratic dominance join — the classic
    sort-filter skyline. The global ORDER BY is a range-partitioned
    sort at scale; the running min is O(1) state. Comparisons only —
    no float arithmetic to drift."""
    pp = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_extendedprice").alias("price"))
        .agg(F.min("l_quantity").alias("qty"))
    )
    # one exclusive-frame window (min over strictly-preceding rows)
    # instead of the nested running-min + lag pair — same semantics
    # on unique prices, one ordered pass fewer
    w = Window.orderBy(F.col("price").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = pp.withColumn("best_above", F.min("qty").over(w))
    return r.filter(
        F.col("best_above").isNull() | (F.col("qty") < F.col("best_above"))
    ).select("price", "qty")


# ---------------------------------------------------------------------------
# One-pass column profiler — the stats screen every engine ships
# (null %, distinct counts, extrema) emitted long-format, one row
# per profiled column.
# ---------------------------------------------------------------------------
@register(
    "profile_columns",
    "WITH s AS (SELECT"
    "  COUNT(*) AS n,"
    "  COUNT(o_custkey) AS nn_cust, COUNT(DISTINCT o_custkey) AS nd_cust,"
    "  CAST(MIN(o_custkey) AS VARCHAR) AS mn_cust,"
    "  CAST(MAX(o_custkey) AS VARCHAR) AS mx_cust,"
    "  COUNT(o_orderstatus) AS nn_st, COUNT(DISTINCT o_orderstatus) AS nd_st,"
    "  MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st,"
    "  COUNT(o_orderpriority) AS nn_pr, COUNT(DISTINCT o_orderpriority) AS nd_pr,"
    "  MIN(o_orderpriority) AS mn_pr, MAX(o_orderpriority) AS mx_pr"
    "  FROM orders)"
    " SELECT col, n, n_nonnull, n_distinct, min_str, max_str FROM ("
    "  SELECT 'o_custkey' AS col, n, nn_cust AS n_nonnull,"
    "   nd_cust AS n_distinct, mn_cust AS min_str, mx_cust AS max_str FROM s"
    "  UNION ALL SELECT 'o_orderstatus', n, nn_st, nd_st, mn_st, mx_st FROM s"
    "  UNION ALL SELECT 'o_orderpriority', n, nn_pr, nd_pr, mn_pr, mx_pr FROM s)",
)
def profile_columns(spark, sf_dir):
    """Column profile of orders in ONE scan: per column — non-null
    count, exact distinct, min/max (stringified for a uniform
    long-format schema). All profiled columns aggregate in a single
    pass (Catalyst expands the multi-distinct into one expand +
    aggregate), then a zero-shuffle stack() reshapes wide → long. At
    100 TB swap exact distincts for approx_count_distinct sketches
    (agg_approx_distinct pins that contract) — same single-scan
    shape."""
    t = _t(spark, sf_dir, "orders")
    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("string").alias("mn_cust"),
        F.max("o_custkey").cast("string").alias("mx_cust"),
        F.count("o_orderstatus").alias("nn_st"),
        F.countDistinct("o_orderstatus").alias("nd_st"),
        F.min("o_orderstatus").alias("mn_st"),
        F.max("o_orderstatus").alias("mx_st"),
        F.count("o_orderpriority").alias("nn_pr"),
        F.countDistinct("o_orderpriority").alias("nd_pr"),
        F.min("o_orderpriority").alias("mn_pr"),
        F.max("o_orderpriority").alias("mx_pr"),
    )
    return s.select(
        F.expr(
            "stack(3,"
            " 'o_custkey', n, nn_cust, nd_cust, mn_cust, mx_cust,"
            " 'o_orderstatus', n, nn_st, nd_st, mn_st, mx_st,"
            " 'o_orderpriority', n, nn_pr, nd_pr, mn_pr, mx_pr)"
            " AS (col, n, n_nonnull, n_distinct, min_str, max_str)"
        )
    )


# ---------------------------------------------------------------------------
# Data-quality rule screen — referential integrity, range, and
# uniqueness checks as one rule → violation-count table (what a DQ
# framework runs nightly).
# ---------------------------------------------------------------------------
@register(
    "dq_checks",
    "SELECT rule, n_violations FROM ("
    " SELECT 'lineitem_fk_orders' AS rule, CAST(("
    "  SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS"
    "   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))"
    "  AS BIGINT) AS n_violations"
    " UNION ALL SELECT 'orders_fk_customer', CAST(("
    "  SELECT COUNT(*) FROM orders o WHERE NOT EXISTS"
    "   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)"
    " UNION ALL SELECT 'discount_in_range', CAST(("
    "  SELECT COUNT(*) FROM lineitem"
    "  WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)"
    " UNION ALL SELECT 'orderkey_linenumber_unique', CAST(("
    "  SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem"
    "   GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS BIGINT)"
    " UNION ALL SELECT 'totalprice_positive', CAST(("
    "  SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT))",
)
def dq_checks(spark, sf_dir):
    """Five data-quality rules in one result: two referential-
    integrity checks (anti-join counts — the 100 TB shape: one key
    shuffle each, dim side broadcast when small), one domain range,
    one composite-key uniqueness (group-bounded), one positivity.
    Each rule is an independent subtree; Spark runs them as a union
    of small aggregates, each with its own pushed-down scan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def one(rule, cnt_df):
        return cnt_df.select(
            F.lit(rule).alias("rule"), F.col("cnt").cast("long").alias("n_violations")
        )

    fk1 = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    fk2 = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rng = li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    uniq = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pos = orders.filter(F.col("o_totalprice") <= 0).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        one("lineitem_fk_orders", fk1)
        .unionAll(one("orders_fk_customer", fk2))
        .unionAll(one("discount_in_range", rng))
        .unionAll(one("orderkey_linenumber_unique", uniq))
        .unionAll(one("totalprice_positive", pos))
    )


# ---------------------------------------------------------------------------
# Scale-form skyline — the multi-partition proof for
# analytics_skyline's global-order flag, same construction as
# window_partitioned_parity / bucketed_prefix_sum: per-bucket local
# pass + a carry table over bucket boundaries.
# ---------------------------------------------------------------------------
@register(
    "skyline_partitioned_parity",
    # identical result spec as analytics_skyline: the oracle IS the
    # global-order formulation; the Spark side computes it bucketed
    "WITH pp AS (SELECT l_extendedprice AS price, MIN(l_quantity) AS qty"
    "  FROM lineitem GROUP BY 1),"
    " r AS (SELECT price, qty, MIN(qty) OVER"
    "   (ORDER BY price DESC"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above"
    "  FROM pp)"
    " SELECT price, qty FROM r"
    " WHERE best_above IS NULL OR qty < best_above",
)
def skyline_partitioned_parity(spark, sf_dir):
    """analytics_skyline WITHOUT the single-partition global window:
    prices are range-bucketed (fixed width, so bucket order == price
    order); each bucket computes its local strictly-preceding min in
    parallel; a |buckets|-row carry table (min qty of every strictly
    higher bucket — the only global pass, over bucket AGGREGATES)
    broadcasts back, and the survivor test combines local + carried
    minima. The oracle is the global-order SQL — hash-equality
    proves the decomposition. Same pattern as
    window_partitioned_parity / bucketed_prefix_sum (SURVEY §7.4.1):
    this is how every 'global ORDER BY' analytic in this repo
    actually runs at 100 TB."""
    pp = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_extendedprice").alias("price"))
        .agg(F.min("l_quantity").alias("qty"))
        .withColumn("bucket", F.floor(F.col("price") / 5000.0).cast("long"))
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy(F.col("price").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = pp.withColumn("local_best", F.min("qty").over(wloc))
    bucket_mins = pp.groupBy("bucket").agg(F.min("qty").alias("bmin"))
    # carry: min over strictly HIGHER buckets — an exclusive-frame
    # window over the tiny bucket-aggregate table (the two-phase
    # scan's reduction step, |buckets| rows)
    wcarry = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bucket_mins.withColumn("carried", F.min("bmin").over(wcarry)).select(
        "bucket", "carried"
    )
    joined = local.join(F.broadcast(carry), "bucket")
    best_above = F.least(
        F.coalesce("local_best", F.lit(float("inf"))),
        F.coalesce("carried", F.lit(float("inf"))),
    )
    return joined.filter(F.col("qty") < best_above).select("price", "qty")


# ---------------------------------------------------------------------------
# fn_bit_ops — row-level bitwise expression coverage
# ---------------------------------------------------------------------------
_BIT_SQL = """
SELECT o_orderkey,
       (o_orderkey & 255)::BIGINT AS lo_byte,
       (o_orderkey | 4096)::BIGINT AS with_flag,
       xor(o_orderkey, o_custkey)::BIGINT AS key_xor,
       (o_orderkey << 2)::BIGINT AS shifted_l,
       (o_orderkey >> 3)::BIGINT AS shifted_r,
       bit_count(o_orderkey)::BIGINT AS popcount
FROM orders WHERE o_orderkey < 5000
"""


@register("fn_bit_ops", _BIT_SQL)
def fn_bit_ops(spark, sf_dir):
    """Row-level bitwise algebra (&, |, xor, shifts, popcount) — the
    partition-key / flag-mask toolbox. Pure map-side expressions in
    whole-stage codegen."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("lo_byte"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("key_xor"),
        F.shiftleft(k, 2).cast("long").alias("shifted_l"),
        F.shiftright(k, 3).cast("long").alias("shifted_r"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


# ---------------------------------------------------------------------------
# fn_variant — Spark 4 VARIANT ingestion of semi-structured props
# ---------------------------------------------------------------------------
_VARIANT_SQL = """
SELECT event_id,
       json_extract(props, '$.k')::BIGINT AS k,
       (json_extract(props, '$.k')::BIGINT % 7)::BIGINT AS k_mod,
       CASE WHEN json_extract(props, '$.k')::BIGINT >= 50 THEN 'hi' ELSE 'lo' END AS band
FROM events WHERE event_id < 5000
"""


@register("fn_variant", _VARIANT_SQL)
def fn_variant(spark, sf_dir):
    """Semi-structured ingestion through Spark 4's VARIANT type:
    parse_json into a variant column once, then typed variant_get
    path extraction — the open-format answer to schema-on-read JSON
    (binary-encoded, no per-access re-parse, shredding-ready). The
    oracle is DuckDB's JSON path extraction over the same strings;
    `fn_json` keeps the classic get_json_object face."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return e.select(
        "event_id",
        k.alias("k"),
        (k % 7).alias("k_mod"),
        F.when(k >= 50, F.lit("hi")).otherwise(F.lit("lo")).alias("band"),
    )


# ---------------------------------------------------------------------------
# sample_weighted — Efraimidis-Spirakis A-Res, deterministic source
# ---------------------------------------------------------------------------
_WS_SQL = """
WITH keyed AS (
  SELECT o_orderkey, o_totalprice,
         ln((CAST(CONCAT('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
            / 4503599627370497.0) / o_totalprice AS akey
  FROM orders
)
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM (SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY akey DESC, o_orderkey) AS rn
      FROM keyed)
WHERE rn <= 32
"""


@register("sample_weighted", _WS_SQL)
def sample_weighted(spark, sf_dir):
    """Weighted sample WITHOUT replacement (Efraimidis-Spirakis
    A-Res): each row draws u in (0,1) and keeps key = ln(u)/w; the
    top-k keys are the sample, with inclusion probability
    proportional to weight. The uniform is a SEEDED md5-derived
    value, so both engines draw identical u and the sample is
    hash-exact — the same deterministic-randomness policy as the
    MinHash family. One map-side key expression + a top-k (no global
    sort: TakeOrdered merges per-partition heaps)."""
    o = _t(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / 4503599627370497.0  # 2^52 + 1 keeps u in (0, 1]
    akey = F.ln(u) / F.col("o_totalprice")
    return (
        o.select("o_orderkey", "o_totalprice", akey.alias("akey"))
        .orderBy(F.col("akey").desc(), "o_orderkey")
        .limit(32)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# sample_weighted_group — per-group A-Res weighted sampling
# ---------------------------------------------------------------------------
_WSG_SQL = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln((CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
            / 4503599627370497.0) / n_chars AS akey
  FROM documents
)
SELECT source, doc_id, n_chars
FROM (SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY akey DESC, doc_id) AS rn
      FROM keyed)
WHERE rn <= 8
"""


@register("sample_weighted_group", _WSG_SQL)
def sample_weighted_group(spark, sf_dir):
    """Per-GROUP weighted sample without replacement: 8 documents per
    source, inclusion probability proportional to n_chars —
    Efraimidis-Spirakis A-Res keys (same seeded md5 uniform as the
    global sample_weighted) ranked inside each source partition.
    This is the partition-friendly form a stratified 100 TB corpus
    draw uses: one window per group (per-partition heaps, no global
    sort), keys computed map-side, hash-exact cross-engine."""
    from pyspark.sql import Window as W2

    d = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / 4503599627370497.0
    akey = F.ln(u) / F.col("n_chars")
    w = W2.partitionBy("source").orderBy(F.col("akey").desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", akey.alias("akey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("source", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# dq_key_skew — join-key skew census: the diagnostic pass that decides
# whether a join needs salting (join_salted) or AQE skew handling
# ---------------------------------------------------------------------------
_SKEW_SQL = """
WITH c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
s AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot, AVG(CAST(n AS DOUBLE)) AS avg_n FROM c)
SELECT l_partkey, n, ROUND(n / s.tot, 6) AS share, ROUND(n / s.avg_n, 6) AS skew_x
FROM c, s ORDER BY n DESC, l_partkey LIMIT 5
"""


@register("dq_key_skew", _SKEW_SQL)
def dq_key_skew(spark, sf_dir):
    """Top-5 heaviest join keys on lineitem.l_partkey with their
    share of rows and skew multiple vs the mean key. This is the
    pre-join diagnostic that justifies salting: a key with skew_x in
    the hundreds means one reducer gets hundreds of partitions'
    worth of work. Shape: one count shuffle, a broadcast scalar for
    the denominators, and a TakeOrdered top-5 (per-partition heaps,
    never a global sort)."""
    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.agg(
        F.sum("n").cast("double").alias("tot"),
        F.avg(F.col("n").cast("double")).alias("avg_n"),
    )
    return (
        c.crossJoin(F.broadcast(s))
        .select(
            "l_partkey",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("share"),
            F.round(F.col("n") / F.col("avg_n"), 6).alias("skew_x"),
        )
        .orderBy(F.col("n").desc(), "l_partkey")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# fn_lambda — higher-order array functions over embeddings
# ---------------------------------------------------------------------------
_LAMBDA_SQL = """
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       ROUND(list_sum(list_transform(embedding,
             x -> LEAST(GREATEST(CAST(x AS DOUBLE), -0.1), 0.1))), 6) AS clipped_sum,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       CAST(list_min(embedding) AS DOUBLE) AS vmin
FROM embeddings
"""


@register("fn_lambda", _LAMBDA_SQL)
def fn_lambda(spark, sf_dir):
    """Higher-order (lambda) array functions — the JVM-side way to
    compute over array<float> columns without any Python: transform
    + aggregate for the L2 norm, filter + size for sign counts,
    transform-clamp + aggregate for clipped sums, array_max/min
    untouched. Everything runs inside whole-stage codegen; at 100 TB
    this is the difference between a map-only scan and shipping
    every vector through Arrow into a UDF. Elements are cast
    float→double BEFORE arithmetic on both engines, so the fold is
    the same left-to-right double accumulation bit-for-bit (the
    float32 product path would round differently per engine). The
    fold mirrors DuckDB list_sum's edge semantics so the contract is
    data-independent, not a fixture accident: NULL elements are
    skipped (a bare acc+x fold would poison the sum to NULL) and an
    empty / all-NULL array yields NULL (a 0.0 seed alone would
    yield 0.0)."""
    emb = _t(spark, sf_dir, "embeddings")
    dsq = F.transform(
        F.col("embedding"),
        lambda x: x.cast("double") * x.cast("double"),
    )
    clip = F.transform(
        F.col("embedding"),
        lambda x: F.least(F.greatest(x.cast("double"), F.lit(-0.1)), F.lit(0.1)),
    )

    def fold(arr):
        nn = F.filter(arr, lambda x: x.isNotNull())
        return F.when(
            F.size(nn) > 0,
            F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x),
        )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(fold(dsq)), 6).alias("l2"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_pos"),
        F.round(fold(clip), 6).alias("clipped_sum"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.array_min("embedding").cast("double").alias("vmin"),
    )


# ---------------------------------------------------------------------------
# fn_map_ops — map-typed column functions
# ---------------------------------------------------------------------------
_MAP_SQL = """
WITH w AS (SELECT p_partkey,
                  list_distinct(string_split(p_name, ' ')) AS words
           FROM part)
SELECT p_partkey,
       CAST(len(words) AS INT) AS n_keys,
       array_to_string(list_sort(words), '|') AS keys_sorted,
       CAST(list_sum(list_transform(words, x -> length(x) * 2)) AS BIGINT)
         AS vals_sum_doubled,
       CAST(CASE WHEN list_contains(words, 'widget') THEN 6 END AS INT)
         AS widget_len
FROM w
"""


@register("fn_map_ops", _MAP_SQL)
def fn_map_ops(spark, sf_dir):
    """Map-typed column surface: map_from_arrays → transform_values
    → map_keys / element_at / size, scalarized for the differential
    hash (map cells, like array cells, don't survive the driver's
    pandas canonicalization — and map ITERATION order is engine-
    private, so only order-insensitive renderings are comparable:
    sorted key string, value sum, point lookup). Keys pass through
    array_distinct first — Spark's mapKeyDedupPolicy defaults to
    EXCEPTION, and a name with a repeated word would otherwise kill
    the task. The oracle mirrors the semantics with plain lists
    (DuckDB's MAP element-access conventions have shifted across
    versions; lists state the same contract without that
    dependency)."""
    part = _t(spark, sf_dir, "part")
    words = F.array_distinct(F.split("p_name", " "))
    m = F.map_from_arrays(words, F.transform(words, lambda w: F.length(w)))
    m2 = F.transform_values(m, lambda k, v: v * 2)
    return part.select(
        "p_partkey",
        F.size(m).cast("int").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("keys_sorted"),
        F.aggregate(
            F.map_values(m2), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("vals_sum_doubled"),
        F.element_at(m, F.lit("widget")).cast("int").alias("widget_len"),
    )


# ---------------------------------------------------------------------------
# fn_url_parse — structured URL decomposition
# ---------------------------------------------------------------------------
_URL_N = 3000

_URL_SQL = f"""
WITH u AS (
  SELECT i AS row_id,
         'https://host' || (i % 7) || '.example.org/p/' || (i % 50)
           || '/doc?q=t' || (i % 13) || '&page=' || (i % 9) AS url
  FROM range({_URL_N}) t(i)
)
SELECT row_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
FROM u
"""


@register("fn_url_parse", _URL_SQL)
def fn_url_parse(spark, sf_dir):
    """Structured URL decomposition with Spark's JVM-side parse_url
    (PROTOCOL / HOST / PATH / QUERY / per-key QUERY lookup) against
    a regexp oracle — the log-ingestion cousin of fn_regexp and
    fn_json. The synthetic corpus covers 7 hosts x 50 paths x 13x9
    query-value combinations; every component is deterministic text,
    so the contract is exact string equality. parse_url stays inside
    whole-stage codegen — no Python in the pipeline."""

    u = spark.range(0, _URL_N, 1, 8).select(
        F.col("id").alias("row_id"),
        F.concat(
            F.lit("https://host"),
            (F.col("id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            (F.col("id") % 50).cast("string"),
            F.lit("/doc?q=t"),
            (F.col("id") % 13).cast("string"),
            F.lit("&page="),
            (F.col("id") % 9).cast("string"),
        ).alias("url"),
    )
    return u.select(
        "row_id",
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("page")).alias("page"),
    )


_IPCIDR_SQL = """
WITH ips AS (
  SELECT c_custkey,
         CONCAT('10.', CAST(c_custkey % 200 AS VARCHAR), '.',
                CAST((c_custkey * 7) % 256 AS VARCHAR), '.',
                CAST((c_custkey * 13) % 256 AS VARCHAR)) AS ip
  FROM customer
),
oct AS (SELECT c_custkey, ip, string_split(ip, '.') AS o FROM ips),
parsed AS (
  SELECT c_custkey, ip,
         CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
           + CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT) AS ip_num,
         CONCAT(o[1], '.', o[2], '.', o[3], '.0/24') AS subnet
  FROM oct
)
SELECT subnet, COUNT(*) AS n_hosts,
       MIN(ip_num) AS min_ip, MAX(ip_num) AS max_ip
FROM parsed
WHERE ip_num BETWEEN 167772160 AND 176160767
GROUP BY subnet
"""


@register("fn_ip_cidr", _IPCIDR_SQL)
def fn_ip_cidr(spark, sf_dir):
    """IPv4 parse + CIDR arithmetic: synthesize a deterministic
    dotted-quad per customer, split it BACK into octets (string
    path), rebuild the 32-bit integer, roll up to /24 subnets, and
    filter to 10.0.0.0/9 by numeric range [167772160, 176160767] —
    the network-log analytics pattern (parse, numeric containment,
    prefix aggregation) as pure column expressions."""


    cust = _t(spark, sf_dir, "customer")
    ips = cust.select(
        "c_custkey",
        F.concat(
            F.lit("10."),
            (F.col("c_custkey") % 200).cast("string"),
            F.lit("."),
            ((F.col("c_custkey") * 7) % 256).cast("string"),
            F.lit("."),
            ((F.col("c_custkey") * 13) % 256).cast("string"),
        ).alias("ip"),
    )
    o = F.split("ip", "\\.")
    parsed = ips.select(
        "c_custkey",
        "ip",
        (
            o.getItem(0).cast("long") * 16777216
            + o.getItem(1).cast("long") * 65536
            + o.getItem(2).cast("long") * 256
            + o.getItem(3).cast("long")
        ).alias("ip_num"),
        F.concat(
            o.getItem(0), F.lit("."), o.getItem(1), F.lit("."), o.getItem(2), F.lit(".0/24")
        ).alias("subnet"),
    )
    return (
        parsed.filter(F.col("ip_num").between(167772160, 176160767))
        .groupBy("subnet")
        .agg(
            F.count(F.lit(1)).alias("n_hosts"),
            F.min("ip_num").alias("min_ip"),
            F.max("ip_num").alias("max_ip"),
        )
    )


_B64_SQL = """
SELECT c_custkey,
       base64(encode(c_name)) AS name_b64,
       decode(from_base64(base64(encode(c_name)))) AS name_back,
       hex(c_mktsegment) AS segment_hex,
       decode(from_base64(base64(encode(c_name)))) = c_name AS roundtrip_ok
FROM customer WHERE c_custkey % 100 = 0
"""


@register("fn_base64_roundtrip", _B64_SQL)
def fn_base64_roundtrip(spark, sf_dir):
    """Binary-encoding surface: base64 encode → decode round-trip on
    customer names (must equal the input on every row) plus hex of
    the UTF-8 segment bytes — the wire-format functions an engine's
    function library owes its users. Pure column expressions."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    b64 = F.base64(F.col("c_name").cast("binary"))
    back = F.unbase64(b64).cast("string")
    return cust.select(
        "c_custkey",
        b64.alias("name_b64"),
        back.alias("name_back"),
        F.hex(F.col("c_mktsegment").cast("binary")).alias("segment_hex"),
        (back == F.col("c_name")).alias("roundtrip_ok"),
    )


_LEV_SQL = """
SELECT p.p_partkey,
       levenshtein(p.p_name, p2.p_name) AS dist,
       length(p.p_name) AS len_a, length(p2.p_name) AS len_b
FROM part p JOIN part p2 ON p2.p_partkey = p.p_partkey + 1
WHERE p.p_partkey % 50 = 0
"""


@register("fn_levenshtein", _LEV_SQL)
def fn_levenshtein(spark, sf_dir):
    """Scalar edit-distance parity: both engines ship a builtin
    levenshtein — this pins them against each other on real part
    names (the primitive join_typo_names' FastSS banding
    accelerates). Integer output, map-side join on adjacent keys."""
    part = _t(spark, sf_dir, "part")
    a = part.filter(F.col("p_partkey") % 50 == 0).select(
        "p_partkey", F.col("p_name").alias("name_a")
    )
    b = part.select(
        (F.col("p_partkey") - 1).alias("p_partkey"), F.col("p_name").alias("name_b")
    )
    return a.join(b, "p_partkey").select(
        "p_partkey",
        F.levenshtein("name_a", "name_b").alias("dist"),
        F.length("name_a").alias("len_a"),
        F.length("name_b").alias("len_b"),
    )


# Differentially private count release.
#
# The standard Laplace mechanism (Dwork, McSherry, Nissim & Smith
# 2006): release count + Laplace(sensitivity/epsilon) noise. The
# engine question is reproducibility: production DP systems draw noise
# from a SEEDED generator (auditability, replayable releases), and the
# repo's seeded-md5 uniform inverted through the Laplace CDF gives a
# deterministic, cross-engine-exact mechanism:
#
#   u  = md5int(seed|key) / 2^32  in [0, 1)
#   x  = -b * sign(u - 1/2) * ln(1 - 2*|u - 1/2|)
#
# Privacy accounting for this release: the statistic is the DISTINCT-
# USER count per event type (each user contributes at most 1 to each
# type — contribution clipping by construction), so per-type
# sensitivity is 1 under add/remove-one-user; a user can appear in all
# 5 types, so the release of all rows composes to 5*epsilon total.
_EPS = 0.5

_B = 1.0 / _EPS  # Laplace scale, sensitivity 1

_SEED = "dp-v1"

_DP_SQL = f"""
WITH c AS (SELECT event_type,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events GROUP BY 1),
u AS (SELECT event_type, n_users,
             CAST(CONCAT('0x', substr(md5(CONCAT('{_SEED}', '|',
                  event_type)), 1, 8)) AS BIGINT) / 4294967296.0 AS uu
      FROM c)
SELECT event_type, n_users,
       ROUND(n_users
             + (-{_B}) * CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1 - 2 * abs(uu - 0.5)), 6) AS noisy_count,
       CAST({_EPS} AS DOUBLE) AS epsilon
FROM u
"""


@register("dq_dp_counts", _DP_SQL)
def dq_dp_counts(spark, sf_dir):
    """Epsilon-DP per-type distinct-user counts via the seeded
    Laplace mechanism (epsilon = 0.5 per row, scale b = 2). The
    inverse-CDF transform is pinned distributionally in
    tests/test_ext50.py (empirical mean |noise| -> b over a seed
    grid, symmetric sign split), and the release includes the true
    count ONLY because this is the engine's differential harness —
    a production release would project it away; the mechanism
    column is what is under test.

    Scale shape: one distinct-user aggregate (two-level: map-side
    partial distinct on (type, user), then the count — Catalyst's
    standard expansion), then per-row literal noise arithmetic. The
    noise needs no randomness service or driver coordination at any
    scale because the seed is data-keyed — the property that makes
    seeded-DP releases replayable."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )
    uu = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SEED), F.lit("|"), F.col("event_type"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    noise = (
        F.lit(-_B)
        * F.when(uu >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1 - 2 * F.abs(uu - 0.5))
    )
    return c.select(
        "event_type",
        "n_users",
        F.round(F.col("n_users") + noise, 6).alias("noisy_count"),
        F.lit(_EPS).alias("epsilon"),
    )


# Python UDTF surface.
#
# Spark 4's user-defined TABLE functions complete the repo's UDF
# inventory (scalar pandas_udf — udf_scalar_pandas; grouped
# applyInPandas — udf_group_zscore; now the one-row-to-many-rows
# form). A UDTF is registered once and composed in SQL with LATERAL,
# which is the shape users port from Hive's explode-style UDTFs or
# Postgres set-returning functions.
#
# The honest performance note from the repo's UDF policy applies
# doubly: UDTF eval is row-at-a-time Python (no Arrow batching for the
# yield path in this container's config), so this surface exists for
# API completeness and extensibility — the same fixed-width chunking
# is expressible as pure column ops (doc_chunk_stride's family), and
# THAT is the hot path. The oracle proves the UDTF's semantics equal
# the declarative form exactly.
_WIDTH = 40

_UDTF_SQL = f"""
SELECT doc_id, CAST(i AS INT) AS part,
       substr(text, CAST(i * {_WIDTH} + 1 AS INT), {_WIDTH}) AS piece,
       CAST(length(substr(text, CAST(i * {_WIDTH} + 1 AS INT), {_WIDTH}))
            AS INT) AS n_chars
FROM (SELECT doc_id, text,
             unnest(range(0, (length(text) + {_WIDTH - 1}) // {_WIDTH})) AS i
      FROM documents)
"""


@register("fn_udtf_chunks", _UDTF_SQL)
def fn_udtf_chunks(spark, sf_dir):
    """Fixed-width document chunking through a registered Python
    UDTF composed with LATERAL in SQL — the table-function member of
    the UDF surface. Each input row yields ceil(len/40) output rows
    (part index, piece, piece length); empty documents yield
    nothing, matching the oracle's empty range. The UDTF/declarative
    equivalence is the oracle check itself; the row-at-a-time cost
    profile (vs the arrow-batched and pure-column chunkers) is
    documented above and in tests/test_ext62.py."""

    @udtf(returnType=f"part int, piece string, n_chars int")
    class ChunkText:
        def eval(self, text: str):
            if not text:
                return
            for i in range(0, (len(text) + _WIDTH - 1) // _WIDTH):
                piece = text[i * _WIDTH : (i + 1) * _WIDTH]
                yield i, piece, len(piece)

    spark.udtf.register("chunk_text", ChunkText)
    _t(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_udtf_src"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.part, c.piece, c.n_chars
        FROM documents_udtf_src d, LATERAL chunk_text(d.text) c
        """
    )


# Jaro-Winkler similarity.
#
# The record-linkage string metric (Jaro 1989; Winkler 1990, built for
# Census name matching): Jaro scores character matches within a
# half-length window plus a transposition penalty; Winkler boosts
# scores sharing a prefix. Complements the family already shipped —
# fn_levenshtein (edit distance), join_typo_names (FastSS banding),
# join_fuzzy_parts (set-token) — with the metric actual MDM systems
# rank candidates by.
#
# The implementation matches DuckDB's builtin exactly (probed: boost
# only when jaro > 0.7, prefix capped at 4, scale 0.1), which is what
# makes the differential oracle a one-liner per pair. The Spark face
# is an Arrow-batched pandas UDF — character-window DP is the honest
# UDF case (SURVEY §7.7), not expressible in column algebra.
_TOPN = 100

_JW_SQL = f"""
WITH p AS (SELECT p_partkey AS k, p_name AS name FROM part),
pairs AS (
  SELECT a.k AS part_a, b.k AS part_b, a.name AS na, b.name AS nb
  FROM p a JOIN p b ON b.k = a.k + 1),
scored AS (
  SELECT part_a, part_b,
         ROUND(jaro_similarity(na, nb), 6) AS jaro,
         ROUND(jaro_winkler_similarity(na, nb), 6) AS jw,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(jaro_winkler_similarity(na, nb), 6) DESC,
                    part_a) AS rnk
  FROM pairs)
SELECT part_a, part_b, jaro, jw FROM scored WHERE rnk <= {_TOPN}
"""


def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    win = max(max(la, lb) // 2 - 1, 0)  # short strings: window >= 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - win), min(lb, i + win + 1)
        for j in range(lo, hi):
            if not mb[j] and a[i] == b[j]:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3


def _jw(a: str, b: str) -> float:
    j = _jaro(a, b)
    if j <= 0.7:  # DuckDB's boost threshold (module docstring)
        return j
    l = 0
    for x, y in zip(a, b):
        if x == y and l < 4:
            l += 1
        else:
            break
    return j + l * 0.1 * (1 - j)


@register("fn_jaro_winkler", _JW_SQL)
def fn_jaro_winkler(spark, sf_dir):
    """Top-100 most-similar adjacent part-name pairs by
    Jaro-Winkler (jw-desc, part_a tie-break on the 6dp-rounded
    score), emitting both the raw Jaro and the boosted score. The
    pandas-UDF implementation is pinned against DuckDB's builtin by
    the oracle itself and against the textbook examples (martha/
    marhta = 0.961111, dixon/dicksonx jaro = 0.766667) plus the
    boost-threshold and prefix-cap behaviors in tests/test_ext74.py.

    Scale shape: scoring is per-pair map-only Arrow batches; the
    pair GENERATION here is a key-adjacency join (deterministic
    fixture) — production candidate generation is the FastSS/LSH
    banding of join_typo_names, with this metric as the ranking
    stage."""

    @pandas_udf("double")
    def jaro_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_jaro(x, y) for x, y in zip(a, b)])

    @pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_jw(x, y) for x, y in zip(a, b)])

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_name").alias("name")
    )
    a = p.select(F.col("k").alias("part_a"), F.col("name").alias("na"))
    b = p.select((F.col("k") - 1).alias("part_a"), F.col("name").alias("nb"),
                 F.col("k").alias("part_b"))
    pairs = a.join(b, "part_a")
    scored = pairs.select(
        "part_a",
        "part_b",
        F.round(jaro_udf("na", "nb"), 6).alias("jaro"),
        F.round(jw_udf("na", "nb"), 6).alias("jw"),
    ).withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("jw").desc(), "part_a")),
    )
    return scored.filter(F.col("rnk") <= _TOPN).select(
        "part_a", "part_b", "jaro", "jw"
    )


# ---------------------------------------------------------------------------
# dq_mahalanobis_outliers — multivariate outlier gate on doc features
# ---------------------------------------------------------------------------

# Feature vector per document: x1 = n_chars, x2 = whitespace token
# count, x3 = mean token length. The 3x3 covariance inverse is the
# closed-form adjugate/determinant — identical expression text on
# both engines.
_MAHA_SQL = """
WITH f AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS x1,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
         CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x3
  FROM documents),
m AS (
  SELECT AVG(x1) AS m1, AVG(x2) AS m2, AVG(x3) AS m3,
         COVAR_POP(x1, x1) AS s11, COVAR_POP(x1, x2) AS s12,
         COVAR_POP(x1, x3) AS s13, COVAR_POP(x2, x2) AS s22,
         COVAR_POP(x2, x3) AS s23, COVAR_POP(x3, x3) AS s33
  FROM f),
inv AS (
  SELECT m1, m2, m3,
         (s22 * s33 - s23 * s23) / det AS i11,
         (s13 * s23 - s12 * s33) / det AS i12,
         (s12 * s23 - s13 * s22) / det AS i13,
         (s11 * s33 - s13 * s13) / det AS i22,
         (s13 * s12 - s11 * s23) / det AS i23,
         (s11 * s22 - s12 * s12) / det AS i33
  FROM (SELECT *,
          s11 * (s22 * s33 - s23 * s23)
        - s12 * (s12 * s33 - s23 * s13)
        + s13 * (s12 * s23 - s22 * s13) AS det
        FROM m)),
scored AS (
  SELECT doc_id,
         ROUND((x1 - m1) * (i11 * (x1 - m1) + i12 * (x2 - m2) + i13 * (x3 - m3))
             + (x2 - m2) * (i12 * (x1 - m1) + i22 * (x2 - m2) + i23 * (x3 - m3))
             + (x3 - m3) * (i13 * (x1 - m1) + i23 * (x2 - m2) + i33 * (x3 - m3)),
             6) AS md2
  FROM f CROSS JOIN inv)
SELECT doc_id, md2
FROM (SELECT doc_id, md2,
             ROW_NUMBER() OVER (ORDER BY md2 DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 50
"""


@register("dq_mahalanobis_outliers", _MAHA_SQL)
def dq_mahalanobis_outliers(spark, sf_dir):
    """Top-50 multivariate outliers by squared Mahalanobis distance
    over (n_chars, token count, mean token length) — the correlated
    version of dq_checks' univariate z-gates: a document can be
    inlier on every marginal yet far off the feature correlation
    ridge, and md² is what catches it. The 3×3 covariance inverse is
    the closed-form adjugate, written as the IDENTICAL expression on
    both engines; ranking is on the 6dp-ROUNDED score with doc_id
    tie-break so the top-50 boundary is decided on identical keys.

    Shape: one scan computes the nine moment aggregates (a single
    reduce to one row, broadcast back), a second scan scores rows
    map-side, and the top-50 is a TakeOrdered — no global sort, no
    driver loop; the two scans are the price of mean/covariance
    centering (same trade as stats_brown_forsythe documents)."""
    d = _t(spark, sf_dir, "documents")
    x2 = F.size(F.split(F.col("text"), " ")).cast("double")
    f = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("x1"),
        x2.alias("x2"),
        (F.col("n_chars").cast("double") / x2).alias("x3"),
    )
    m = f.agg(
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("x3").alias("m3"),
        F.covar_pop("x1", "x1").alias("s11"),
        F.covar_pop("x1", "x2").alias("s12"),
        F.covar_pop("x1", "x3").alias("s13"),
        F.covar_pop("x2", "x2").alias("s22"),
        F.covar_pop("x2", "x3").alias("s23"),
        F.covar_pop("x3", "x3").alias("s33"),
    )
    s = {k: F.col(k) for k in ("s11", "s12", "s13", "s22", "s23", "s33")}
    det = (
        s["s11"] * (s["s22"] * s["s33"] - s["s23"] * s["s23"])
        - s["s12"] * (s["s12"] * s["s33"] - s["s23"] * s["s13"])
        + s["s13"] * (s["s12"] * s["s23"] - s["s22"] * s["s13"])
    )
    inv = m.withColumn("det", det).select(
        "m1",
        "m2",
        "m3",
        ((s["s22"] * s["s33"] - s["s23"] * s["s23"]) / F.col("det")).alias("i11"),
        ((s["s13"] * s["s23"] - s["s12"] * s["s33"]) / F.col("det")).alias("i12"),
        ((s["s12"] * s["s23"] - s["s13"] * s["s22"]) / F.col("det")).alias("i13"),
        ((s["s11"] * s["s33"] - s["s13"] * s["s13"]) / F.col("det")).alias("i22"),
        ((s["s13"] * s["s12"] - s["s11"] * s["s23"]) / F.col("det")).alias("i23"),
        ((s["s11"] * s["s22"] - s["s12"] * s["s12"]) / F.col("det")).alias("i33"),
    )
    d1 = F.col("x1") - F.col("m1")
    d2 = F.col("x2") - F.col("m2")
    d3 = F.col("x3") - F.col("m3")
    md2 = F.round(
        d1 * (F.col("i11") * d1 + F.col("i12") * d2 + F.col("i13") * d3)
        + d2 * (F.col("i12") * d1 + F.col("i22") * d2 + F.col("i23") * d3)
        + d3 * (F.col("i13") * d1 + F.col("i23") * d2 + F.col("i33") * d3),
        6,
    )
    scored = f.crossJoin(F.broadcast(inv)).select("doc_id", md2.alias("md2"))
    ranked = scored.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("md2").desc(), "doc_id"))
    )
    return ranked.filter(F.col("rnk") <= 50).select("doc_id", "md2")


# ---------------------------------------------------------------------------
# fn_business_days — closed-form weekday arithmetic
# ---------------------------------------------------------------------------

# business days in (start, od]: full weeks contribute 5 each; the
# remainder is a run of rem consecutive days starting at Monday-index
# a = (a0_start + 1) mod 7, whose weekday count has the closed form
#   f(a, rem) = max(0, min(a+rem, 5) - min(a, 5))     (pre-wrap part)
#             + max(0, min(a+rem-7, 5))               (post-wrap part)
_BDAYS_SQL = """
WITH t0 AS (SELECT MIN(o_orderdate) AS d0 FROM orders),
d AS (
  SELECT o_orderkey,
         date_diff('day', CAST(d0 AS DATE), CAST(o_orderdate AS DATE)) AS cal,
         CAST((EXTRACT(dow FROM CAST(d0 AS DATE)) + 6) % 7 AS BIGINT) AS a0
  FROM orders CROSS JOIN t0),
e AS (SELECT o_orderkey, cal, (a0 + 1) % 7 AS a, cal % 7 AS rem FROM d)
SELECT o_orderkey, cal AS calendar_days,
       CAST((cal // 7) * 5
            + greatest(0, least(a + rem, 5) - least(a, 5))
            + greatest(0, least(a + rem - 7, 5)) AS BIGINT) AS business_days
FROM e
ORDER BY o_orderkey
LIMIT 200
"""


@register("fn_business_days", _BDAYS_SQL)
def fn_business_days(spark, sf_dir):
    """Business (Mon-Fri) days between the corpus's first order date
    and each order date, as a PURE closed-form column expression —
    no calendar explode, no UDF: full weeks times five plus a
    two-term min/max count of weekdays in the remainder run (the
    date-dimension-free form an SLA/lead-time pipeline wants at
    100 TB, where exploding a day-per-row calendar per fact row is
    the anti-pattern). First 200 orderkeys keep the differential row
    set bounded; the expression itself is exercised across every
    weekday phase because the corpus spans years.

    Shape: scalar min-date broadcast, then map-side integer
    arithmetic — a single scan, no shuffle beyond the TakeOrdered."""
    o = _t(spark, sf_dir, "orders")
    t0 = o.agg(F.min("o_orderdate").alias("d0"))
    # Monday-index of a date: Spark dayofweek is 1=Sun..7=Sat
    a0 = (F.dayofweek(F.col("d0")) + 5) % 7
    d = o.crossJoin(F.broadcast(t0)).select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.col("d0")).cast("bigint").alias("cal"),
        a0.cast("bigint").alias("a0"),
    )
    e = d.select(
        "o_orderkey",
        "cal",
        ((F.col("a0") + 1) % 7).alias("a"),
        (F.col("cal") % 7).alias("rem"),
    )
    zero = F.lit(0).cast("bigint")
    bdays = (
        F.expr("cal div 7") * 5
        + F.greatest(
            zero,
            F.least(F.col("a") + F.col("rem"), F.lit(5).cast("bigint"))
            - F.least(F.col("a"), F.lit(5).cast("bigint")),
        )
        + F.greatest(
            zero,
            F.least(F.col("a") + F.col("rem") - 7, F.lit(5).cast("bigint")),
        )
    )
    return (
        e.select(
            "o_orderkey",
            F.col("cal").alias("calendar_days"),
            bdays.cast("bigint").alias("business_days"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )
