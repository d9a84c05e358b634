"""Joins: fact/dimension, semi/anti, as-of, range and spatial joins,
plus MERGE-style upserts."""

from __future__ import annotations

import math
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from stockify_spark.functions.scale import spread_small_scan
from stockify_spark.llm.dedup import fuzzy_set_join
from stockify_spark.operators.aggregates import group_agg
from stockify_spark.operators.joins import (
    anti_join,
    asof_join,
    dim_join,
    fact_join,
    range_join_bucketed,
    salted_join,
    semi_join,
)
from stockify_spark.queries.common import _scratch_table
from stockify_spark.registry import _t, register
from stockify_spark.sources.io import load_table, write_date_partitioned


# ---------------------------------------------------------------------------
# Joins (SURVEY §7.6.2)
# ---------------------------------------------------------------------------
@register(
    "join_dim",
    "SELECT n_nationkey, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey",
)
def join_dim(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return dim_join(nation, region, nation["n_regionkey"] == region["r_regionkey"]).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_fact_agg",
    "SELECT o_orderpriority, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
    " COUNT(*) AS n_items FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
    " GROUP BY o_orderpriority",
    bench="paired",
)
def join_fact_agg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
    return group_agg(
        joined,
        ["o_orderpriority"],
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_semi",
    "SELECT c_custkey, c_name FROM customer WHERE EXISTS"
    " (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def join_semi(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return semi_join(customer, orders, customer["c_custkey"] == orders["o_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS"
    " (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def join_anti(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return anti_join(customer, orders, customer["c_custkey"] == orders["o_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "join_star",
    "SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " GROUP BY r_name",
    bench="paired",
)
def join_star(spark, sf_dir):
    """Star-schema rollup: one shuffle join on the fact key, then
    broadcast hash joins for every dimension hop — the 100 TB plan is
    scan(lineitem) → SMJ orders → BHJ×3 → partial agg, no dimension
    shuffle anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), F.col("o_custkey") == customer["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"])
    )
    return group_agg(
        joined,
        ["r_name"],
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


@register(
    "join_asof",
    "SELECT p.event_id, p.user_id, p.value, c.value AS asof_value"
    " FROM (SELECT * FROM events WHERE event_type = 'purchase') p"
    " ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c"
    " ON p.user_id = c.user_id AND p.ts >= c.ts",
    bench="paired",
)
def join_asof(spark, sf_dir):
    """As-of join (each purchase ↔ latest prior click per user) —
    composed from union + partitioned window (operators/joins.py);
    the oracle uses DuckDB's native ASOF JOIN."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(purchases, clicks, key="user_id", time_col="ts", right_value_cols=["value"])
    return out.select("event_id", "user_id", "value", "asof_value")


# ---------------------------------------------------------------------------
# Remaining join types and filter predicates (completing the algebra).
# ---------------------------------------------------------------------------
@register(
    "join_left_outer",
    "SELECT c_custkey, o_orderkey, o_totalprice FROM customer"
    " LEFT JOIN (SELECT * FROM orders WHERE o_totalprice >= 400000) o"
    " ON c_custkey = o_custkey",
)
def join_left_outer(spark, sf_dir):
    """Left outer: unmatched customers survive with null order cols —
    same broadcast shape as the inner dim join (null-extension is free
    in the hash join)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 400000)
    return cust.join(
        F.broadcast(big), cust["c_custkey"] == big["o_custkey"], "left"
    ).select("c_custkey", "o_orderkey", "o_totalprice")


@register(
    "join_full_outer",
    "SELECT a.k AS k_a, b.k AS k_b FROM"
    " (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') a"
    " FULL OUTER JOIN"
    " (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O') b"
    " ON a.k = b.k",
)
def join_full_outer(spark, sf_dir):
    """Full outer join (shuffle on both sides — broadcast can't
    null-extend the broadcast side, so Catalyst plans SMJ)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    return a.join(b, a["k"] == b["k"], "full").select(
        a["k"].alias("k_a"), b["k"].alias("k_b")
    )


@register(
    "join_cross",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark, sf_dir):
    """Explicit cartesian product — legitimate only when one side is
    tiny (broadcast nested loop); the planner requires the explicit
    crossJoin call, which is the API's scale guardrail."""
    region = _t(spark, sf_dir, "region").select("r_name")
    nation = _t(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(F.broadcast(nation))


@register(
    "merge_upsert_orders",
    "SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice FROM orders"
    " WHERE o_orderkey % 100 <> 0"
    " UNION ALL SELECT o_orderkey, ROUND(o_totalprice * 2, 2) AS o_totalprice"
    " FROM orders WHERE o_orderkey % 100 = 0",
    bench="paired",
)
def merge_upsert_orders(spark, sf_dir):
    """MERGE semantics on plain parquet (operators/merge.py): every
    100th order is 'updated' (price doubled); the merged table keeps
    unmatched rows and takes the update side for matched keys. The
    oracle states the same MERGE as its UNION of complements."""
    from stockify_spark.operators.merge import merge_upsert

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    merged = merge_upsert(orders, updates, ["o_orderkey"])
    return merged.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


@register(
    "join_salted",
    # salting is result-invariant: the oracle is the PLAIN join, so
    # the hash-exact match proves the skew rewrite changes the plan,
    # never the answer.
    "SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice, o_orderstatus"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE o_orderstatus = 'F'",
)
def join_salted(spark, sf_dir):
    """Skew-resistant fact⋈fact join (operators.joins.salted_join):
    left rows take a deterministic salt, right rows replicate once
    per salt value, the shuffle key becomes (key, salt) — a key
    holding 30% of the table spreads over `salt` tasks instead of one
    straggler. For when AQE's runtime skew split isn't available
    (e.g. a fixed partitioning is reused downstream)."""

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            F.col("o_orderkey").alias("l_orderkey"), "o_totalprice", "o_orderstatus"
        )
    )
    return salted_join(li, orders, "l_orderkey", salt=8)


@register(
    "join_range_bucketed",
    # point-in-interval join; intervals derive from exact MINs (no
    # summation-order noise), and the bucketed candidate pass ends in
    # an exact filter, so results hash-match the native range join.
    "WITH bands AS (SELECT p_brand, MIN(p_retailprice) AS lo,"
    " MIN(p_retailprice) + 500 AS hi FROM part GROUP BY p_brand)"
    " SELECT p.p_partkey, b.p_brand AS band_brand"
    " FROM part p JOIN bands b"
    " ON p.p_retailprice >= b.lo AND p.p_retailprice <= b.hi",
)
def join_range_bucketed(spark, sf_dir):
    """Point-in-interval join via bucketization (operators.joins.
    range_join_bucketed): each interval explodes into the width/
    bucket_width buckets it covers, candidates come from a plain
    equi-join on bucket id, then the exact predicate filters. Turns
    the O(n·m) non-equi join into a shuffle whose fan-out is bounded
    by interval width — the standard scale trick when intervals are
    short relative to the domain (DuckDB meanwhile runs its native
    IEJoin: two engines, two algorithms, one result)."""

    part = _t(spark, sf_dir, "part")
    bands = part.groupBy(F.col("p_brand").alias("band_brand")).agg(
        F.min("p_retailprice").alias("lo"),
        (F.min("p_retailprice") + 500).alias("hi"),
    )
    joined = range_join_bucketed(
        part.select("p_partkey", "p_retailprice"),
        bands,
        left_point="p_retailprice",
        right_lo="lo",
        right_hi="hi",
        bucket_width=250.0,
    )
    return joined.select("p_partkey", "band_brand")


# ---------------------------------------------------------------------------
# SCD2 dimension merge (operators/merge.merge_scd2): the warehouse
# pattern for versioned dimensions. The update set is derived
# deterministically from the data (every 10th-residue-0/1/2
# customer gets a +100 balance adjustment effective 1995-06-01).
# ---------------------------------------------------------------------------
@register(
    "merge_scd2_customers",
    "WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal,"
    "  '1990-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to"
    "  FROM customer),"
    " upd AS (SELECT c_custkey, c_mktsegment, c_acctbal + 100.0 AS c_acctbal,"
    "  '1995-06-01' AS effective_from FROM customer WHERE c_custkey % 10 < 3)"
    " SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to,"
    "  valid_to IS NULL AS is_current FROM ("
    "  SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, d.valid_from,"
    "   u.effective_from AS valid_to"
    "   FROM dim d JOIN upd u USING (c_custkey)"
    "  UNION ALL"
    "  SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to"
    "   FROM dim WHERE c_custkey % 10 >= 3"
    "  UNION ALL"
    "  SELECT c_custkey, c_mktsegment, c_acctbal, effective_from,"
    "   CAST(NULL AS VARCHAR) FROM upd)",
)
def merge_scd2_customers(spark, sf_dir):
    """Type-2 SCD merge: updated keys close their open row at the
    effective date and append a new open version; the oracle states
    the same three-way union declaratively. One key join (update
    side broadcast-sized) — see operators/merge.merge_scd2."""
    from stockify_spark.operators.merge import merge_scd2

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1990-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    upd = cust.filter(F.col("c_custkey") % 10 < 3).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("1995-06-01").alias("effective_from"),
    )
    return merge_scd2(dim, upd, ["c_custkey"])


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the materialized-view update
# pattern: combine a pre-aggregated base with a delta batch's
# partials WITHOUT rescanning base rows. The oracle is the full
# recompute, so the differential check proves incremental == batch.
# ---------------------------------------------------------------------------
@register(
    "merge_incremental_agg",
    "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,"
    " ROUND(SUM(o_totalprice), 2) AS total,"
    " MAX(epoch_ms(o_orderdate)) AS last_ms"
    " FROM orders GROUP BY o_custkey",
)
def merge_incremental_agg(spark, sf_dir):
    """Materialized-view maintenance: the per-customer order
    aggregate is kept as (count, sum, max) partials; a new batch
    aggregates ONLY its own rows and full-outer-merges onto the base
    by key — count+count, sum+sum, greatest(max, max). The query
    splits orders at 1997-01-01 into base/delta, runs the
    incremental path, and the oracle recomputes from scratch:
    hash-equality IS the incremental-consistency proof. At 100 TB
    this is the shape that turns a daily full rescan into a
    delta-sized job — every algebraic aggregate (sum/count/min/max,
    and avg/stddev/sketches via their partials) merges this way; the
    base side is a bucketed table co-partitioned on the key so the
    merge join doesn't reshuffle it."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")

    def partials(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total"),
            F.max(F.unix_millis("o_orderdate")).alias("last_ms"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < cut))
    delta = partials(orders.filter(F.col("o_orderdate") >= cut))
    b = base.select(
        F.col("o_custkey"),
        F.col("n_orders").alias("_bn"),
        F.col("total").alias("_bt"),
        F.col("last_ms").alias("_bm"),
    )
    d = delta.select(
        F.col("o_custkey"),
        F.col("n_orders").alias("_dn"),
        F.col("total").alias("_dt"),
        F.col("last_ms").alias("_dm"),
    )
    merged = b.join(d, "o_custkey", "full_outer")
    return merged.select(
        "o_custkey",
        (F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0))).alias("n_orders"),
        F.round(
            F.coalesce("_bt", F.lit(0.0)) + F.coalesce("_dt", F.lit(0.0)), 2
        ).alias("total"),
        F.greatest(
            F.coalesce("_bm", F.lit(-(1 << 62))), F.coalesce("_dm", F.lit(-(1 << 62)))
        ).alias("last_ms"),
    )


# ---------------------------------------------------------------------------
# join_fuzzy_parts — entity-resolution R-S set-similarity join
# ---------------------------------------------------------------------------
_FUZZY_SQL = """
WITH names AS (SELECT p_name, COUNT(*)::BIGINT AS c FROM part GROUP BY p_name),
r AS (SELECT p_name, c, list_distinct(string_split(p_name, ' ')) AS t FROM names
      WHERE strpos('02468ace', substr(md5(p_name), 1, 1)) > 0),
s AS (SELECT p_name, c, list_distinct(string_split(p_name, ' ')) AS t FROM names
      WHERE strpos('02468ace', substr(md5(p_name), 1, 1)) = 0),
j AS (SELECT r.p_name AS a, s.p_name AS b, (r.c * s.c)::BIGINT AS np,
             len(list_intersect(r.t, s.t))::DOUBLE AS i,
             (len(r.t) + len(s.t))::DOUBLE AS n
      FROM r, s)
SELECT a AS name_a, b AS name_b, ROUND(i / (n - i), 6) AS jaccard, np AS n_pairs
FROM j WHERE i / (n - i) >= 0.3
"""


@register("join_fuzzy_parts", _FUZZY_SQL, bench="paired")
def join_fuzzy_parts(spark, sf_dir):
    """Entity-resolution join on token-set Jaccard >= 0.3 between two
    hash-split halves of the part-name CATALOG (llm/dedup.
    fuzzy_set_join), with each match weighted by the number of raw
    part pairs it represents.

    Scale design — canonicalize, then fuzzy-join the distinct side:
    the raw-row fuzzy join is output-quadratic whenever names repeat
    (at sf0.1 it emits ~1.5M pairs for 64 distinct names), so the
    scalable plan aggregates to distinct names first (one shuffle,
    cardinality = |vocabulary| not |rows|), runs the prefix-filtered
    R-S similarity join on that small side, and carries the group
    sizes so the raw pair count is reported without materializing the
    pairs. The oracle is the brute-force distinct-name cross join."""
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("c"))
    tagged = names.withColumn(
        "_even", F.substring(F.md5("p_name"), 1, 1).isin(*"02468ace")
    ).withColumn("toks", F.array_distinct(F.split("p_name", " ")))
    left = tagged.filter(F.col("_even"))
    right = tagged.filter(~F.col("_even"))
    matched = fuzzy_set_join(left, right, "p_name", "toks", threshold=0.3)
    ca = left.select(F.col("p_name").alias("id_a"), F.col("c").alias("_ca"))
    cb = right.select(F.col("p_name").alias("id_b"), F.col("c").alias("_cb"))
    return (
        matched.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            "jaccard",
            (F.col("_ca") * F.col("_cb")).alias("n_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# join_asof_tolerance — staleness-bounded as-of join
# ---------------------------------------------------------------------------
_ASOF_TOL_SQL = """
SELECT p.event_id, p.user_id, p.value,
       CASE WHEN epoch_ms(p.ts) - epoch_ms(c.ts) <= 600000 THEN c.value END AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("join_asof_tolerance", _ASOF_TOL_SQL)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness bound: each purchase takes the
    latest prior click per user ONLY if it is at most 10 minutes old
    — the trade-quote alignment form where stale quotes must not
    leak. Same union + carry-forward window as asof_join (one shuffle
    per side, no range cross-product). The right row's (value, ts)
    ride as ONE carried struct so they fill atomically — independent
    per-column last(ignorenulls) fills would pair an older row's
    non-null value with the newest row's timestamp whenever the
    newest value is NULL (the match must be the latest ROW, exactly
    like the oracle's ASOF JOIN). Clicks are pre-deduped per
    (user, ts) to the max struct so equal-timestamp rows carry a
    deterministic winner in both engines' window orders. Tolerance
    is a map-side CASE after the fill."""

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max(
                F.struct(F.unix_millis("ts").alias("c_ms"), F.col("value").alias("v"))
            ).alias("q")
        )
    )
    out = asof_join(
        purchases, clicks, key="user_id", time_col="ts", right_value_cols=["q"]
    )
    tol_ok = F.unix_millis("ts") - F.col("asof_q.c_ms") <= 600000
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.when(tol_ok, F.col("asof_q.v")).alias("asof_value"),
    )


# ---------------------------------------------------------------------------
# join_bloom_prune — explicit Bloom-filter semi-join (operators/bloom)
# ---------------------------------------------------------------------------
_BLOOM_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""


@register("join_bloom_prune", _BLOOM_SQL)
def join_bloom_prune(spark, sf_dir):
    """Semi-join of orders against BUILDING-segment customers with an
    explicit Bloom filter (operators/bloom) in front of the exact
    join: the bitmap (8 KiB, m=2^16, k=3) is built distributed from
    the dim keys, collected as bounded model state, and inlined into
    the fact scan's filter — so at 100 TB the overwhelming majority
    of non-matching fact rows die map-side, BEFORE the join shuffle,
    for the cost of two integer hashes per row. False positives are
    removed by the exact semi-join that follows (the filter is an
    optimization, never a semantics change — same contract as
    Catalyst's InjectRuntimeFilter, made explicit and sizable)."""
    from stockify_spark.operators.bloom import bloom_build, bloom_might_contain

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bitmap = bloom_build(cust, "c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        bloom_might_contain(bitmap, "o_custkey")
    )
    return (
        orders.join(
            cust.select("c_custkey"),
            orders["o_custkey"] == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# join_typo_names — edit-distance-1 name pairs via pigeonhole banding
# ---------------------------------------------------------------------------
_TYPO_SQL = """
SELECT a.s_name AS name_a, b.s_name AS name_b
FROM supplier a JOIN supplier b ON a.s_name < b.s_name
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


@register("join_typo_names", _TYPO_SQL, bench="paired")
def join_typo_names(spark, sf_dir):
    """All supplier-name pairs within Levenshtein distance 1, WITHOUT
    the all-pairs cross join the oracle runs — FastSS deletion-
    neighborhood banding: each name emits itself plus every
    one-character-deleted variant as band keys. Any two strings
    within edit distance 1 share a key (substitution at position p →
    both deletion variants at p coincide; insert/delete → the
    shorter string IS a deletion variant of the longer; equality →
    the identity key), so an equi-join on the key set has perfect
    recall, then one exact levenshtein() verifies. The first cut of
    this operator banded on string HALVES — degenerate on exactly
    this kind of corpus, where every name shares the long constant
    prefix ('Supplier#…'): the prefix half put ALL names in one
    bucket and the 'band' join silently became the all-pairs join it
    was supposed to avoid. Deletion keys don't have that failure
    mode: a bucket collects only names identical everywhere but one
    position, so bucket width is bounded by the alphabet at that
    position (~10 here), independent of shared prefixes. Cost is a
    (L+1)× key explode — the classic FastSS space-for-candidates
    trade, linear in corpus size. A pair sharing several keys
    (names agreeing after multiple deletions) would duplicate, so
    candidates dedup in the same groupBy that feeds the verify."""
    sup = _t(spark, sf_dir, "supplier").select("s_name")
    # keys: the name itself (slot -1) + each single-deletion variant
    keys = F.array_union(
        F.array(F.col("s_name")),
        F.transform(
            F.sequence(F.lit(1), F.length("s_name")),
            lambda p: F.concat(
                F.col("s_name").substr(F.lit(1), p - 1),
                F.col("s_name").substr(
                    p + 1, F.length("s_name")
                ),
            ),
        ),
    )
    bands = sup.select("s_name", F.explode(keys).alias("k"))
    a = bands.select(F.col("s_name").alias("name_a"), "k")
    b = bands.select(F.col("s_name").alias("name_b"), "k")
    cand = (
        a.join(b, "k")
        .filter(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count(F.lit(1)).alias("_nkeys"))
    )
    return cand.filter(
        F.levenshtein("name_a", "name_b") <= 1
    ).select("name_a", "name_b")


# ---------------------------------------------------------------------------
# geo_range_join — haversine radius join via latitude banding
# ---------------------------------------------------------------------------

# Deterministic synthetic coordinates derived from the keys (the
# star-schema tables carry no geography; both engines compute the
# same doubles from the same integers).
_LAT = "(({k} * 7919) % 18000) / 100.0 - 90.0"

_LON = "(({k} * 104729) % 36000) / 100.0 - 180.0"

_GEO_R_KM = 300.0

_GEO_BAND_DEG = 3.0  # 3° of latitude ≈ 333 km > R: ±1 band suffices

_GEO_SQL = f"""
WITH c AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat,
                  {_LON.format(k='c_custkey')} AS lon
           FROM customer),
s AS (SELECT s_suppkey, {_LAT.format(k='s_suppkey')} AS lat,
             {_LON.format(k='s_suppkey')} AS lon
      FROM supplier)
SELECT c_custkey, s_suppkey,
       ROUND(2 * 6371.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat))
           * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)
       )), 4) AS dist_km
FROM c CROSS JOIN s
WHERE 2 * 6371.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat))
           * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)
       )) <= {_GEO_R_KM}
"""


def _haversine_km(lat1, lon1, lat2, lon2):
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon) * F.sin(dlon)
    )
    return 2 * 6371.0 * F.asin(F.sqrt(a))


# Benched: a banded range join against the oracle's cross join.
@register("geo_range_join", _GEO_SQL, bench="paired")
def geo_range_join(spark, sf_dir):
    """Spatial range join: customer–supplier pairs within 300 km
    (haversine), WITHOUT the cross join the oracle runs. Points are
    bucketed into 3° latitude bands (333 km — strictly wider than
    the radius, so a match is always in the same or an adjacent
    band); each supplier is replicated into its band ±1 and the join
    is a plain equi-join on band id, then the exact haversine
    predicate verifies. Candidate volume drops from |C|·|S| to
    ~|C|·|S|·(3·band/180) — 60× here, and the same at any scale
    because band membership is data-independent. Latitude-only
    banding sidesteps the longitude-convergence problem (a fixed
    lon×lat grid's cells narrow toward the poles, breaking the
    adjacency argument); a production variant would sub-split bands
    by longitude with a cos(lat)-aware width — same plan shape.
    Coordinates are key-derived synthetics (the schema has no
    geography); integer-exact modular arithmetic, identical doubles
    on both engines."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0).alias("c_lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias("c_lon"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7919) % 18000) / 100.0 - 90.0).alias("s_lat"),
        (((F.col("s_suppkey") * 104729) % 36000) / 100.0 - 180.0).alias("s_lon"),
    )
    band = lambda lat: F.floor(lat / _GEO_BAND_DEG).cast("long")  # noqa: E731
    c_banded = cust.withColumn("band", band(F.col("c_lat")))
    s_banded = sup.withColumn(
        "band",
        F.explode(
            F.array(
                band(F.col("s_lat")) - 1,
                band(F.col("s_lat")),
                band(F.col("s_lat")) + 1,
            )
        ),
    )
    dist = _haversine_km(F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon"))
    return (
        c_banded.join(s_banded, "band")
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= _GEO_R_KM)
        .select("c_custkey", "s_suppkey", F.round("dist_km", 4).alias("dist_km"))
    )


# ---------------------------------------------------------------------------
# geo_knn_suppliers — exact k-nearest suppliers per customer
# ---------------------------------------------------------------------------
_HAV = """2 * 6371.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat))
           * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)))"""

_KNN_GEO_SQL = f"""
WITH c AS (SELECT c_custkey, ((c_custkey * 7919) % 18000) / 100.0 - 90.0 AS lat,
                  ((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS lon
           FROM customer),
s AS (SELECT s_suppkey, ((s_suppkey * 7919) % 18000) / 100.0 - 90.0 AS lat,
             ((s_suppkey * 104729) % 36000) / 100.0 - 180.0 AS lon
      FROM supplier),
d AS (SELECT c_custkey, s_suppkey, ROUND({_HAV}, 6) AS dist_km
      FROM c CROSS JOIN s),
r AS (SELECT c_custkey, s_suppkey, dist_km,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY dist_km, s_suppkey) AS BIGINT) AS rk
      FROM d)
SELECT c_custkey, s_suppkey, dist_km, rk FROM r WHERE rk <= 3
"""


# Deferred oracle: the oracle stays the full cross join while Spark
# answers from about 1/20 of the pair stream (grid pruning).
@register("geo_knn_suppliers", _KNN_GEO_SQL, bench="deferred")
def geo_knn_suppliers(spark, sf_dir):
    """Exact 3-nearest suppliers per customer (haversine over the
    geo fixture family's key-derived coordinates) — WITHOUT the
    oracle's cross join.

    Round-9 rewrite: BOTH sides here scale with the corpus, so the
    original broadcast-cross-join was the repo's one measured
    superlinear query (SCALING.md r9: 33x on 10x data — the |C|x|S|
    pair stream showing). The scale path is grid pruning with an
    EXACT certificate and per-customer fallback:

      * suppliers land in one 10-degree (lat, lon) cell each;
        customers probe +-1 lat cells x a LATITUDE-ADAPTIVE +-k_lon
        lon span (k_lon <= 5, chosen so the excluded-by-longitude
        haversine lower bound — computed with the SMALLEST cosine
        product reachable in the band, the honest direction — is at
        least D_LAT = R*radians(10); polar customers, |lat| > 70,
        probe the +-1 LAT BANDS across all longitudes, where the
        lon metric degenerates), as cell equi-joins. Any supplier
        OUTSIDE the probe set is therefore provably >= D_LAT away.
      * a customer is CERTIFIED when its candidate top-3 exists and
        d3 + 1e-3 km < D_LAT (the margin absorbs the 6dp output
        rounding and suppkey tie-breaks); certified answers are
        exact by the bound argument, never by sampling luck.
      * uncertified customers — sparse cells, polar edge cases —
        take the brute broadcast scan, but only they do.

    Pair volume drops from |C|x|S| to ~|C|x|S|x(9/648) + polar band
    probes + the fallback residue; the certificate keeps the result
    bit-identical to the cross-join oracle (parity is pinned on two
    SFs in tests/test_ext88.py). Cross-engine discipline unchanged:
    distances ROUNDed to 6dp BEFORE the rank, ties by s_suppkey."""

    def pts(df, key):
        return df.select(
            key,
            (((F.col(key) * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
            (((F.col(key) * 104729) % 36000) / 100.0 - 180.0).alias("lon"),
        )


    CELL = 10.0  # degrees; 18 lat bands x 36 lon cells
    N_LON = 36
    POLAR = 70.0
    R_KM = 6371.0

    D_LAT_BOUND = R_KM * math.radians(CELL)  # ~1111.95 km

    # spread the single-file customer scan: everything up to the
    # rank window's exchange — the ±k_lon cell explode, the
    # broadcast cell join, and one haversine per candidate pair —
    # runs INSIDE the scan stage, i.e. on ONE core for a one-row-
    # group input (r14; the agg_countmin_sketch trig/crypto-map
    # case, no-op at scale — see functions/scale)

    cust = pts(spread_small_scan(_t(spark, sf_dir, "customer")), "c_custkey")
    sup = pts(_t(spark, sf_dir, "supplier"), "s_suppkey").select(
        "s_suppkey",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor((F.col("lat") + 90.0) / CELL).alias("s_clat"),
        F.floor((F.col("lon") + 180.0) / CELL).alias("s_clon"),
    )

    dlat_off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dlat")
    base = cust.select(
        "c_custkey",
        "lat",
        "lon",
        F.floor((F.col("lat") + 90.0) / CELL).alias("clat"),
        F.floor((F.col("lon") + 180.0) / CELL).alias("clon"),
    )
    nonpolar = base.filter(F.abs(F.col("lat")) <= POLAR)
    polar = base.filter(F.abs(F.col("lat")) > POLAR)
    # LATITUDE-ADAPTIVE longitude probe span: a supplier excluded by
    # k lon cells has dlon > 10k deg, hence distance >=
    # 2R*asin(sin(5k deg)*sqrt(cos phi * cos(|phi|+10))). Choose the
    # smallest k making that >= D_LAT (= 2R*asin(sin 5 deg)), i.e.
    # sin(5k) >= sin(5)/sqrt(cos phi * cos(|phi|+10)) — then the
    # certificate bound is uniformly D_LAT and high-latitude
    # customers stop flunking certification into the brute fallback
    # (at sf0.1 the fixed 3x3 probe sent 45% of non-polar customers
    # to the fallback because the honest lon bound shrinks with
    # latitude). For |phi| <= 70 the needed k is at most 5, so the
    # wrapped span 2k+1 <= 11 < 36 never self-overlaps.
    phi_np = F.radians(F.abs(F.col("lat")))
    phi_out_np = F.radians(F.least(F.abs(F.col("lat")) + CELL, F.lit(90.0)))
    need = F.lit(math.sin(math.radians(CELL / 2))) / F.sqrt(
        F.cos(phi_np) * F.cos(phi_out_np)
    )
    k_lon = F.least(
        F.ceil(F.degrees(F.asin(F.least(F.lit(1.0), need))) / (CELL / 2)),
        F.lit(5),
    ).cast("int")
    probes_np = (
        nonpolar.withColumn("k_lon", k_lon)
        .select("*", dlat_off)
        .select(
            "*",
            F.explode(F.sequence(-F.col("k_lon"), F.col("k_lon"))).alias("dlon"),
        )
        .select(
            "c_custkey",
            "lat",
            "lon",
            (F.col("clat") + F.col("dlat")).alias("p_clat"),
            ((F.col("clon") + F.col("dlon") + N_LON) % N_LON).alias("p_clon"),
        )
    )
    lon_cells = F.explode(
        F.sequence(F.lit(0), F.lit(N_LON - 1))
    ).alias("p_clon")
    probes_po = (
        polar.select("*", dlat_off)
        .select(
            "c_custkey",
            "lat",
            "lon",
            (F.col("clat") + F.col("dlat")).alias("p_clat"),
            lon_cells,
        )
    )
    probes = probes_np.unionByName(probes_po)
    cand = probes.join(
        sup,
        (probes.p_clat == sup.s_clat) & (probes.p_clon == sup.s_clon),
    ).select(
        "c_custkey",
        "lat",
        "lon",
        "s_suppkey",
        _haversine_km(
            F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
        ).alias("d_exact"),
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.round("d_exact", 6), "s_suppkey"
    )
    # candidate top-3 is consumed THREE times (certificate, certified
    # output, fallback anti-join); at 3 rows/customer it is
    # model-sized, so pin it once instead of re-running the cell join
    # per consumer (the text_perplexity localCheckpoint lesson)
    top = (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .localCheckpoint()
    )
    # certificate per customer: 3 candidates found AND the 3rd
    # distance clears the excluded-supplier lower bound with margin.
    # Exclusion from the probe set means dlat >= 10 deg (distance >=
    # D_LAT directly) or, for non-polar customers, dlon > 10*k_lon
    # deg — whose haversine lower bound (with the MINIMUM cosine
    # product reachable in the +-10-deg band, the r9 review fix; the
    # first draft used the band MAXIMUM and could wrongly certify)
    # is >= D_LAT by the construction of k_lon above. Polar
    # customers probe every longitude, so only the lat bound
    # applies. The bound is therefore uniformly D_LAT.
    per_cust = top.groupBy("c_custkey", "lat").agg(
        F.count(F.lit(1)).alias("n3"), F.max("d_exact").alias("d3")
    )
    certified = per_cust.filter(
        (F.col("n3") == 3) & (F.col("d3") + 1e-3 < F.lit(D_LAT_BOUND))
    ).select("c_custkey").localCheckpoint()
    fallback_cust = base.join(certified, "c_custkey", "left_anti").select(
        "c_custkey", "lat", "lon"
    )
    fb = fallback_cust.crossJoin(
        F.broadcast(sup.select("s_suppkey", "s_lat", "s_lon"))
    ).select(
        "c_custkey",
        "s_suppkey",
        _haversine_km(
            F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
        ).alias("d_exact"),
    )
    fb_top = (
        fb.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )
    keep = top.join(certified, "c_custkey").select(
        "c_custkey", "s_suppkey", "d_exact", "rk"
    )
    return (
        keep.unionByName(
            fb_top.select("c_custkey", "s_suppkey", "d_exact", "rk")
        )
        .select(
            "c_custkey",
            "s_suppkey",
            F.round("d_exact", 6).alias("dist_km"),
            "rk",
        )
    )


_SCD2_DIM = """
dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         DATE '1990-01-01' AS valid_from,
         CASE WHEN c_custkey % 10 < 3 THEN DATE '1995-06-01' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_acctbal + 100.0,
         DATE '1995-06-01', CAST(NULL AS DATE)
  FROM customer WHERE c_custkey % 10 < 3
)
"""

_PIT_SQL = f"""
WITH {_SCD2_DIM}
SELECT d.c_mktsegment AS segment, COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue,
       ROUND(SUM(d.c_acctbal), 2) AS acctbal_at_order
FROM orders o
JOIN dim d ON d.c_custkey = o.o_custkey
          AND CAST(o.o_orderdate AS DATE) >= d.valid_from
          AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
GROUP BY 1
"""


@register("join_scd2_pointintime", _PIT_SQL)
def join_scd2_pointintime(spark, sf_dir):
    """Point-in-time join against a type-2 slowly-changing dimension:
    every order joins the customer VERSION valid at its order date
    (valid_from <= date < valid_to, open rows unbounded). Keys
    %10 < 3 carry two versions split at 1995-06-01 with the balance
    bumped +100 — so the summed balance-at-order-time proves the
    temporal matching, not just the key equi-join. Scale shape: the
    dimension (versions) broadcasts; the validity predicate rides
    the hash join as a residual filter — no range-explosion. Same
    dimension construction as merge_scd2_customers
    (operators/merge.merge_scd2)."""
    cust = _t(spark, sf_dir, "customer")
    dim_open = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.when(F.col("c_custkey") % 10 < 3, F.lit("1995-06-01").cast("date")).alias(
            "valid_to"
        ),
    )
    dim_new = (
        cust.filter(F.col("c_custkey") % 10 < 3)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit("1995-06-01").cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
    )
    dim = dim_open.unionAll(dim_new)
    orders = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    j = orders.join(
        F.broadcast(dim),
        (F.col("c_custkey") == F.col("o_custkey"))
        & (od >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (od < F.col("valid_to"))),
    )
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.sum("c_acctbal"), 2).alias("acctbal_at_order"),
    )


# Point-in-polygon (ray casting).
#
# The geo-join primitive after radius search (geo_range_join) and k-NN
# (geo_knn_suppliers): classify points against a polygon fence. The
# even-odd rule (Shimrat 1962's classic ray-casting algorithm): shoot
# a horizontal ray from the point and count polygon edges it crosses —
# odd means inside. Per point it is a 6-term sum of branch-free edge
# tests, so the operator is a map over the point table with the
# polygon broadcast as literals; no geometry library, no UDF.

# hexagonal fence in (lon=x, lat=y); every edge has distinct y ends,
# so the straddle test never divides by zero
_POLY = [
    (-60.0, -30.0), (-20.0, -55.0), (40.0, -25.0),
    (55.0, 20.0), (0.0, 45.0), (-45.0, 25.0),
]

_EDGES = [
    (_POLY[i][0], _POLY[i][1], _POLY[(i + 1) % len(_POLY)][0],
     _POLY[(i + 1) % len(_POLY)][1])
    for i in range(len(_POLY))
]

_EDGE_VALUES = ", ".join(
    f"({x1}, {y1}, {x2}, {y2})" for x1, y1, x2, y2 in _EDGES
)

_PIP_SQL = f"""
WITH pts AS (
  SELECT c_custkey, c_nationkey,
         {_LON.format(k='c_custkey')} AS x,
         {_LAT.format(k='c_custkey')} AS y
  FROM customer),
edges(x1, y1, x2, y2) AS (VALUES {_EDGE_VALUES}),
hits AS (
  SELECT p.c_custkey, p.c_nationkey,
         SUM(CASE WHEN (CAST(y1 AS DOUBLE) > p.y)
                       <> (CAST(y2 AS DOUBLE) > p.y)
                   AND p.x < (CAST(x2 AS DOUBLE) - CAST(x1 AS DOUBLE))
                             * (p.y - CAST(y1 AS DOUBLE))
                             / (CAST(y2 AS DOUBLE) - CAST(y1 AS DOUBLE))
                             + CAST(x1 AS DOUBLE)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p CROSS JOIN edges GROUP BY 1, 2)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(crossings % 2) AS BIGINT) AS n_inside
FROM hits GROUP BY 1
"""


@register("geo_point_in_polygon", _PIP_SQL)
def geo_point_in_polygon(spark, sf_dir):
    """Per-nation census of customers inside the literal hexagonal
    fence, by even-odd ray casting over the key-derived synthetic
    coordinates (the geo_range_join convention — the schema has no
    geography). Ray-cast parity is pinned in tests/test_ext58.py
    against matplotlib-free brute geometry (winding-free convex
    check) plus hand-placed inside/outside probes.

    Scale shape: the polygon is a 6-row literal — the cross join is
    a broadcast of constants, the crossing count is a 6-term
    per-row expression, and the census is one map-side-combinable
    aggregate. A billion points cost one scan; a thousand-vertex
    polygon only widens the per-row term count (production systems
    band polygon edges by y-range to cut that, the same banding idea
    as the latitude join)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    x = ((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0
    y = ((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0
    pts = cust.select("c_custkey", "c_nationkey", x.alias("x"), y.alias("y"))
    crossings = None
    for x1, y1, x2, y2 in _EDGES:
        straddle = (F.lit(y1) > F.col("y")) != (F.lit(y2) > F.col("y"))
        xcross = F.col("x") < (
            (F.lit(x2) - F.lit(x1))
            * (F.col("y") - F.lit(y1))
            / (F.lit(y2) - F.lit(y1))
            + F.lit(x1)
        )
        term = F.when(straddle & xcross, 1).otherwise(0)
        crossings = term if crossings is None else crossings + term
    hits = pts.select(
        "c_nationkey", (crossings % 2).alias("inside")
    )
    return hits.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("inside").cast("long").alias("n_inside"),
    )


# Allen's interval algebra.
#
# Allen (1983) proved any two intervals stand in exactly one of 13
# qualitative relations (before/meets/overlaps/starts/during/finishes,
# their inverses, and equals) — the vocabulary temporal reasoning,
# process mining, and interval joins are specified in. The engine op:
# classify every (promise-window, ship-window) pair per lineitem into
# its relation and census the corpus. Pure date comparisons — a CASE
# ladder over four endpoints, integer-exact, embarrassingly parallel —
# and the MUTUAL EXCLUSIVITY of the 13 cases is a checkable property:
# every pair classifies exactly once.
#
# Intervals: promise window [orderdate, orderdate + orderkey%60 days]
# vs ship window [shipdate, shipdate + linenumber*7 days] — the
# endpoints are key-derived (the synthetic schema carries no
# commit/receipt dates), spanning all 13 relations at assorted
# frequencies; "did we ship within/around the promise" rendered as
# temporal algebra.
def _case_sql(a1, a2, b1, b2) -> str:
    return f"""CASE
  WHEN {a2} < {b1} THEN 'before'
  WHEN {b2} < {a1} THEN 'after'
  WHEN {a2} = {b1} AND {a1} < {b1} AND {b2} > {b1} THEN 'meets'
  WHEN {b2} = {a1} AND {b1} < {a1} AND {a2} > {a1} THEN 'met_by'
  WHEN {a1} = {b1} AND {a2} = {b2} THEN 'equals'
  WHEN {a1} = {b1} AND {a2} < {b2} THEN 'starts'
  WHEN {a1} = {b1} AND {a2} > {b2} THEN 'started_by'
  WHEN {a2} = {b2} AND {a1} > {b1} THEN 'finishes'
  WHEN {a2} = {b2} AND {a1} < {b1} THEN 'finished_by'
  WHEN {a1} > {b1} AND {a2} < {b2} THEN 'during'
  WHEN {a1} < {b1} AND {a2} > {b2} THEN 'contains'
  WHEN {a1} < {b1} AND {a2} >= {b1} AND {a2} < {b2} THEN 'overlaps'
  ELSE 'overlapped_by' END"""


_ALLEN_SQL = f"""
WITH iv AS (
  SELECT o.o_orderdate AS a1,
         o.o_orderdate + INTERVAL ((o.o_orderkey % 60)) DAY AS a2,
         l.l_shipdate AS b1,
         l.l_shipdate + INTERVAL ((l.l_linenumber * 7)) DAY AS b2
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT {_case_sql('a1', 'a2', 'b1', 'b2')} AS relation,
       CAST(COUNT(*) AS BIGINT) AS n
FROM iv GROUP BY 1
"""


@register("join_allen_relations", _ALLEN_SQL)
def join_allen_relations(spark, sf_dir):
    """Census of Allen relations between each lineitem's commit
    window [orderdate, commitdate] and ship window [shipdate,
    receiptdate]. The CASE ladder's exhaustiveness and mutual
    exclusivity (each pair lands in exactly one of the 13) is pinned
    in tests/test_ext73.py against an independent per-pair
    classifier plus an exhaustive sweep of all endpoint orderings.

    Scale shape: one broadcast-free equi-join (orders x lineitem on
    the fact key — the tpch join layout) and one 13-cell aggregate;
    the classification is a per-row expression inside whole-stage
    codegen. The same ladder IS the predicate vocabulary for
    interval joins (join_range_bucketed's banding generalizes to any
    subset of relations)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderdate").alias("a1"),
        F.date_add(
            "o_orderdate", (F.col("l_orderkey") % 60).cast("int")
        ).alias("a2"),
        F.col("l_shipdate").alias("b1"),
        F.date_add(
            "l_shipdate", (F.col("l_linenumber") * 7).cast("int")
        ).alias("b2"),
    )
    a1, a2, b1, b2 = F.col("a1"), F.col("a2"), F.col("b1"), F.col("b2")
    rel = (
        F.when(a2 < b1, "before")
        .when(b2 < a1, "after")
        .when((a2 == b1) & (a1 < b1) & (b2 > b1), "meets")
        .when((b2 == a1) & (b1 < a1) & (a2 > a1), "met_by")
        .when((a1 == b1) & (a2 == b2), "equals")
        .when((a1 == b1) & (a2 < b2), "starts")
        .when((a1 == b1) & (a2 > b2), "started_by")
        .when((a2 == b2) & (a1 > b1), "finishes")
        .when((a2 == b2) & (a1 < b1), "finished_by")
        .when((a1 > b1) & (a2 < b2), "during")
        .when((a1 < b1) & (a2 > b2), "contains")
        .when((a1 < b1) & (a2 >= b1) & (a2 < b2), "overlaps")
        .otherwise("overlapped_by")
    )
    return iv.groupBy(rel.alias("relation")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# Nearest-direction as-of join.
#
# The asof family's third direction (pandas merge_asof: backward,
# forward, NEAREST): each purchase aligns to the temporally closest
# click per user within a tolerance — the sensor-fusion/trade-quote
# form when causality is not one-sided. Built from the same
# union + carry machinery as join_asof/_tolerance (one shuffle per
# side, never a range cross-product): the backward candidate is the
# running last-click struct, the forward candidate the running
# first-click struct from the other end, and NEAREST is a map-side
# argmin with the documented tie rule (equal gaps -> the earlier
# click).
_TOL_S = 600  # seconds

_NEAREST_SQL = f"""
WITH clicks AS (
  SELECT user_id, MAX(event_id) AS c_id, ts AS c_ts
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
purch AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
u AS (
  SELECT user_id, NULL AS p_id, NULL AS p_ts, c_id, c_ts, c_ts AS o_ts,
         0 AS is_p
  FROM clicks
  UNION ALL
  SELECT user_id, event_id, ts, NULL, NULL, ts, 1 FROM purch),
f AS (
  SELECT user_id, p_id, p_ts, is_p,
         MAX(CASE WHEN is_p = 0 THEN struct_pack(t := c_ts, i := c_id) END)
           OVER (PARTITION BY user_id ORDER BY o_ts, is_p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
         MIN(CASE WHEN is_p = 0 THEN struct_pack(t := c_ts, i := c_id) END)
           OVER (PARTITION BY user_id ORDER BY o_ts, is_p
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd
  FROM u),
pick AS (
  SELECT p_id AS event_id, user_id, p_ts,
         CASE
           WHEN back IS NULL AND fwd IS NULL THEN NULL
           WHEN fwd IS NULL THEN back
           WHEN back IS NULL THEN fwd
           WHEN epoch_ms(p_ts) - epoch_ms(back.t)
                <= epoch_ms(fwd.t) - epoch_ms(p_ts) THEN back
           ELSE fwd
         END AS ch
  FROM f WHERE is_p = 1)
SELECT event_id, user_id,
       ch.i AS click_id,
       CAST(abs(epoch_ms(p_ts) - epoch_ms(ch.t)) / 1000.0 AS DOUBLE)
         AS gap_s,
       CASE WHEN ch.t <= p_ts THEN 'backward' ELSE 'forward' END AS direction
FROM pick
WHERE ch IS NOT NULL
  AND abs(epoch_ms(p_ts) - epoch_ms(ch.t)) <= {_TOL_S} * 1000
"""


@register("join_asof_nearest", _NEAREST_SQL)
def join_asof_nearest(spark, sf_dir):
    """Nearest click per purchase within 10 minutes, either
    direction, ties to the earlier (backward) click: clicks
    pre-deduped per (user, ts) to the max event_id (the
    asof_tolerance convention), one union + two cumulative struct
    fills (backward max-carry, forward min-carry — struct order is
    (ts, id), so the carries pick the latest-prior and
    earliest-following rows atomically), then a map-side argmin.
    Equivalence to a brute per-purchase scan over all of the user's
    clicks, and the tie rule, are pinned in tests/test_ext87.py.

    Scale shape: one shuffle per side into the union window —
    identical cost to the backward-only asof; NEAREST adds only the
    mirrored carry in the same window pass."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("c_id"))
        .select("user_id", F.col("ts").alias("c_ts"), "c_id")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    u = clicks.select(
        "user_id",
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.struct(F.col("c_ts").alias("t"), F.col("c_id").alias("i")).alias(
            "c"
        ),
        F.col("c_ts").alias("o_ts"),
        F.lit(0).alias("is_p"),
    ).unionAll(
        purch.select(
            "user_id",
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
            F.lit(None)
            .cast("struct<t:timestamp,i:long>")
            .alias("c"),
            F.col("ts").alias("o_ts"),
            F.lit(1).alias("is_p"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("o_ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("o_ts", "is_p")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    f = u.select(
        "user_id",
        "p_id",
        "p_ts",
        "is_p",
        F.max("c").over(wb).alias("back"),
        F.min("c").over(wf).alias("fwd"),
    ).filter(F.col("is_p") == 1)
    back_gap = F.unix_millis("p_ts") - F.unix_millis(F.col("back.t"))
    fwd_gap = F.unix_millis(F.col("fwd.t")) - F.unix_millis("p_ts")
    ch = (
        F.when(F.col("back").isNull() & F.col("fwd").isNull(), F.lit(None))
        .when(F.col("fwd").isNull(), F.col("back"))
        .when(F.col("back").isNull(), F.col("fwd"))
        .when(back_gap <= fwd_gap, F.col("back"))
        .otherwise(F.col("fwd"))
    )
    pick = f.select(
        F.col("p_id").alias("event_id"),
        "user_id",
        "p_ts",
        ch.alias("ch"),
    ).filter(F.col("ch").isNotNull())
    gap_ms = F.abs(F.unix_millis("p_ts") - F.unix_millis(F.col("ch.t")))
    return pick.filter(gap_ms <= _TOL_S * 1000).select(
        "event_id",
        "user_id",
        F.col("ch.i").alias("click_id"),
        (gap_ms / 1000.0).cast("double").alias("gap_s"),
        F.when(F.col("ch.t") <= F.col("p_ts"), "backward")
        .otherwise("forward")
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning (r9 verdict #6): fact ⋈ dim over the
# hive-partitioned layout with the selective filter on the DIM side —
# the fact scan's partition list is pruned at RUNTIME from the dim
# subquery (plan pinned in tests/test_plans.py::test_dpp).
# ---------------------------------------------------------------------------
_DPP_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS p_date,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events
WHERE day(CAST(date_trunc('day', ts) AS DATE)) <= 7
GROUP BY 1
"""


# Benched for trend: wall-clock is about neutral at MB scale; the
# bytes metric is bench extras.dpp_io_reduction.
@register("join_dpp_dates", _DPP_SQL, bench="paired")
def join_dpp_dates(spark, sf_dir):
    """Events written hive-partitioned by day (30 directories at this
    vintage); the dim is a (day, day-of-month) table whose filter
    ``dom <= 7`` reaches the FACT scan only through the join — static
    pruning is impossible, so Catalyst inserts a dynamic-pruning
    subquery: the dim is evaluated first (reused broadcast) and only
    the ~7 matching partition DIRECTORIES are listed and scanned. The
    build asserts the runtime plan carries dynamicpruningexpression
    in PartitionFilters.

    At 100 TB this is the difference between scanning a week and
    scanning three years — DPP is the partition-level sibling of the
    log-level stats skipping the txlog queries pin."""


    def build(root: str) -> None:
        write_date_partitioned(
            load_table(spark, sf_dir, "events"),
            os.path.join(root, "fact"),
            "ts",
            "day",
        )

    root = _scratch_table(sf_dir, "dpp", build)
    fact = spark.read.parquet(os.path.join(root, "fact"))
    # bounded collect: one row per PARTITION DIRECTORY (~30 at this
    # vintage; at 100 TB a date dim is a catalog table, same shape)
    days = [r["p_date"] for r in fact.select("p_date").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, d.day) for d in sorted(days)], "p_date date, dom int"
    )
    out = (
        fact.join(F.broadcast(dim.filter(F.col("dom") <= 7)), "p_date")
        .groupBy("p_date")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower(), plan  # the pruning is real
    return out
