"""Relational operator layer: scans, projection/filter, joins (all types,
broadcast), aggregations (plain/distinct/rollup/cube), sorts/limits/top-k,
scalar functions (string/date/math/json/conditional).

The reference has NONE of these as engine operators — its total programmable
surface is the Map/Reduce UDF pair (``/root/reference/src/tmapreduce/mrf.h:9-11``);
filtering/projection happen only inside opaque user code (e.g. the char filter
``example/word_count/word_count.cc:5-7``). SURVEY.md §2B maps each required
category to the Spark primitive used here. Everything below is declarative
DataFrame API so Catalyst applies pushdown/pruning/join-selection; no Python
touches row data.

Money/float outputs go through :mod:`tmapreduce_spark.parity` (exact integer
summation + binary-deterministic rounding) so DuckDB-oracle value hashes match
bit-for-bit regardless of reduction order — see that module's docstring.

Scale notes (100 TB):
- dimension joins (region/nation/part/supplier) are explicitly broadcast —
  no shuffle of the fact table;
- fact-fact joins (orders⋈lineitem) shuffle on the join key once; AQE handles
  skew;
- aggregations rely on Catalyst's automatic partial (map-side) aggregation —
  the reference ships ALL map output over the wire (``worker.cc:311-315``),
  which is exactly the anti-pattern partial agg avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tmapreduce_spark.catalog import QuerySpec
from tmapreduce_spark.parity import DUCK, SPARK, WORD_TOKENS, cents, mavg, mround, msum2
from tmapreduce_spark.sources.catalog import load_table, spread


# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape) — full-scan aggregation, partial-agg path
# ---------------------------------------------------------------------------

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(msum2("l_quantity", SPARK)).alias("sum_qty"),
            F.expr(msum2("l_extendedprice", SPARK)).alias("sum_base_price"),
            F.expr(msum2(_DISC_PRICE, SPARK)).alias("sum_disc_price"),
            F.expr(msum2(_CHARGE, SPARK)).alias("sum_charge"),
            F.expr(mavg("l_quantity")).alias("avg_qty"),
            F.expr(mavg("l_extendedprice")).alias("avg_price"),
            F.expr(mavg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {msum2("l_quantity", DUCK)} AS sum_qty,
       {msum2("l_extendedprice", DUCK)} AS sum_base_price,
       {msum2(_DISC_PRICE, DUCK)} AS sum_disc_price,
       {msum2(_CHARGE, DUCK)} AS sum_charge,
       {mavg("l_quantity")} AS avg_qty,
       {mavg("l_extendedprice")} AS avg_price,
       {mavg("l_discount")} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Shipping-priority revenue (TPC-H Q3 shape) — fact⋈fact join + top-k
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") > F.lit("1998-01-01"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1998-01-01")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # customer is small relative to the facts: broadcast the semi-filter
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(msum2(_DISC_PRICE, SPARK)).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey,
       {msum2(_DISC_PRICE, DUCK)} AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Local-supplier revenue (TPC-H Q5 shape) — snowflake join through dims
# ---------------------------------------------------------------------------

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # dims chain broadcast end-to-end; only orders⋈lineitem shuffles.
    nr = F.broadcast(
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        l.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(c),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nr, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.expr(msum2(_DISC_PRICE, SPARK)).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name,
       {msum2(_DISC_PRICE, DUCK)} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Forecast revenue change (TPC-H Q6 shape) — pure pushdown filter + scalar agg
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(msum2("l_extendedprice * l_discount", SPARK)).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = f"""
SELECT {msum2("l_extendedprice * l_discount", DUCK)} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Projection / filter / predicates
# ---------------------------------------------------------------------------

def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr(mround(_DISC_PRICE, 2)).alias("net_price"),
            F.col("l_quantity").cast("double").alias("qty"),
        )
    )


FILTER_PROJECT_SQL = f"""
SELECT l_orderkey, l_linenumber,
       {mround(_DISC_PRICE, 2)} AS net_price,
       CAST(l_quantity AS DOUBLE) AS qty
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity > 45
"""


# ---------------------------------------------------------------------------
# Joins: inner-broadcast, left outer, semi, anti, full outer, range(theta)
# ---------------------------------------------------------------------------

def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast: per-brand net revenue. At 100 TB
    the part table is the broadcast side; lineitem never shuffles."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.expr(msum2(_DISC_PRICE, SPARK)).alias("brand_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


JOIN_BROADCAST_SQL = f"""
SELECT p_brand,
       {msum2(_DISC_PRICE, DUCK)} AS brand_revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with their order counts, keeping order-less customers
    (COALESCE'd to 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return (
        c.join(counts, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("order_count"),
        )
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, c_mktsegment,
       COALESCE(cnt, 0) AS order_count
FROM customer LEFT JOIN
  (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) t
  ON c_custkey = o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers that placed at least one urgent order (left_semi — no
    duplication, no columns from the right side shuffled)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        )
        .select("c_custkey", "c_name")
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (left_anti)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""
# NOT EXISTS (not NOT IN): a NULL o_custkey would make NOT IN return zero
# rows while Spark's left_anti still returns every unmatched customer.


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer and supplier account totals."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    ca = c.groupBy(F.col("c_nationkey").alias("nk_c")).agg(
        F.expr(msum2("c_acctbal", SPARK)).alias("cust_bal")
    )
    sa = s.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.expr(msum2("s_acctbal", SPARK)).alias("supp_bal")
    )
    return (
        ca.join(sa, F.col("nk_c") == F.col("nk_s"), "full_outer")
        .select(
            F.coalesce(F.col("nk_c"), F.col("nk_s")).alias("nationkey"),
            F.coalesce(F.col("cust_bal"), F.lit(0.0)).alias("cust_bal"),
            F.coalesce(F.col("supp_bal"), F.lit(0.0)).alias("supp_bal"),
        )
    )


JOIN_FULL_SQL = f"""
SELECT COALESCE(nk_c, nk_s) AS nationkey,
       COALESCE(cust_bal, 0.0) AS cust_bal,
       COALESCE(supp_bal, 0.0) AS supp_bal
FROM (SELECT c_nationkey AS nk_c, {msum2("c_acctbal", DUCK)} AS cust_bal
      FROM customer GROUP BY c_nationkey) a
FULL OUTER JOIN
     (SELECT s_nationkey AS nk_s, {msum2("s_acctbal", DUCK)} AS supp_bal
      FROM supplier GROUP BY s_nationkey) b
ON nk_c = nk_s
"""


def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta/range) join: price-band classification of orders by a
    small in-line band table. On Spark a non-equi join against a broadcast
    side is a BroadcastNestedLoopJoin — correct plan for tiny band tables;
    never do this with two large sides."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50_000.0), ("mid", 50_000.0, 200_000.0), ("high", 200_000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(msum2("o_totalprice", SPARK)).alias("band_total"),
        )
    )


JOIN_RANGE_SQL = f"""
SELECT band, count(*) AS n_orders, {msum2("o_totalprice", DUCK)} AS band_total
FROM orders
JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 200000.0), ('high', 200000.0, 1e18))
     AS bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


# ---------------------------------------------------------------------------
# Aggregations: distinct, rollup, cube, conditional, stats
# ---------------------------------------------------------------------------

def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


AGG_DISTINCT_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus); NULL grouping cells surfaced as
    'ALL' so string semantics match the oracle exactly."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.expr(msum2("l_quantity", SPARK)).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


AGG_ROLLUP_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       {msum2("l_quantity", DUCK)} AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.expr(msum2("o_totalprice", SPARK)).alias("sum_price"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "n_orders",
        )
    )


AGG_CUBE_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       {msum2("o_totalprice", DUCK)} AS sum_price,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-based conditional aggregation (pivot-style manual spread)."""
    l = load_table(spark, sf_dir, "lineitem")
    qty_f = "CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END"
    qty_o = "CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END"
    return l.groupBy("l_returnflag").agg(
        F.expr(msum2(qty_f, SPARK)).alias("qty_f"),
        F.expr(msum2(qty_o, SPARK)).alias("qty_o"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )


AGG_CONDITIONAL_SQL = f"""
SELECT l_returnflag,
       {msum2("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END", DUCK)} AS qty_f,
       {msum2("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END", DUCK)} AS qty_o,
       count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
FROM lineitem
GROUP BY l_returnflag
"""


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: min/max (exact picks, manual round) and
    stddev/variance (engine algorithms differ in ulp; 4/2-digit rounding
    absorbs it)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr(mround("min(o_totalprice)", 2)).alias("min_price"),
        F.expr(mround("max(o_totalprice)", 2)).alias("max_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("stddev_price"),
        F.round(F.var_samp("o_totalprice"), 2).alias("var_price"),
    )


AGG_STATS_SQL = f"""
SELECT o_orderstatus,
       {mround("min(o_totalprice)", 2)} AS min_price,
       {mround("max(o_totalprice)", 2)} AS max_price,
       round(stddev_samp(o_totalprice), 4) AS stddev_price,
       round(var_samp(o_totalprice), 2) AS var_price
FROM orders
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject — each partition
    keeps only k rows, then the driver merges k*partitions rows; no full sort
    at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.expr(mround("o_totalprice", 2)).alias("total_price"),
        )
        .limit(20)
    )


TOPK_SQL = f"""
SELECT o_orderkey, o_custkey, {mround("o_totalprice", 2)} AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / json
# ---------------------------------------------------------------------------

def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.length(F.col("p_name")).alias("name_len"),
        F.substring(F.col("p_brand"), 7, 10).alias("brand_num"),
        F.concat_ws("/", F.col("p_type"), F.col("p_brand")).alias("type_brand"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowel"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
    )


SCALAR_STRING_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       CAST(length(p_name) AS INTEGER) AS name_len,
       substring(p_brand, 7, 10) AS brand_num,
       concat_ws('/', p_type, p_brand) AS type_brand,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
       string_split(p_name, ' ')[1] AS first_word
FROM part
"""


def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(msum2("o_totalprice", SPARK)).alias("revenue"),
        )
    )


SCALAR_DATE_SQL = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       count(*) AS n_orders,
       {msum2("o_totalprice", DUCK)} AS revenue
FROM orders
GROUP BY 1, 2
"""


def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(mround("sqrt(l_extendedprice)", 6)).alias("sqrt_price"),
        F.expr(mround("ln(l_extendedprice + 1.0)", 6)).alias("ln_price"),
        F.ceil(F.col("l_quantity")).alias("qty_ceil"),
        F.floor(F.col("l_quantity")).alias("qty_floor"),
        F.abs(F.col("l_discount") - 0.05).cast("double").alias("disc_dev"),
        F.pmod(F.col("l_orderkey"), F.lit(97)).alias("key_mod"),
        F.expr(mround("power(l_tax + 1.0, 2.0)", 6)).alias("tax_sq"),
    )


SCALAR_MATH_SQL = f"""
SELECT l_orderkey, l_linenumber,
       {mround("sqrt(l_extendedprice)", 6)} AS sqrt_price,
       {mround("ln(l_extendedprice + 1.0)", 6)} AS ln_price,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
       CAST(abs(l_discount - 0.05) AS DOUBLE) AS disc_dev,
       l_orderkey % 97 AS key_mod,
       {mround("power(l_tax + 1.0, 2.0)", 6)} AS tax_sq
FROM lineitem
WHERE l_linenumber = 1
"""


def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events ``props`` column."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k_val").alias("sum_k"),
            F.expr(mround("CAST(sum(k_val) AS DOUBLE) / count(*)", 6)).alias("avg_k"),
        )
    )


SCALAR_JSON_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       {mround("CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*)", 6)} AS avg_k
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Grouped time-bucket aggregation over events (batch form of tumbling window)
# ---------------------------------------------------------------------------

def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window aggregation, batch form. Bucketing is done in
    epoch arithmetic (floor(epoch/600)*600) so Spark and the oracle agree
    bit-for-bit; the streaming form lives in tmapreduce_spark.streaming."""
    e = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 600) * 600).cast("bigint")
    return (
        e.groupBy(bucket.alias("bucket_epoch"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(msum2("value", SPARK)).alias("sum_value"),
        )
    )


EVENTS_TUMBLING_SQL = f"""
SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket_epoch,
       event_type,
       count(*) AS n_events,
       {msum2("value", DUCK)} AS sum_value
FROM events
GROUP BY 1, 2
"""


def scalar_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/map scalar-function coverage with higher-order functions, all
    JVM-side: build an array (split), filter it (HOF lambda), transform it,
    fold it (aggregate), index a map built from it. DuckDB twins: list_*
    functions and map construction."""
    d = load_table(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id",
        r"split(trim(text), '\\s+') AS toks",
    ).selectExpr(
        "doc_id",
        "size(toks) AS n_toks",
        "size(filter(toks, t -> length(t) > 4)) AS n_long",
        "aggregate(transform(toks, t -> length(t)), 0, (acc, x) -> acc + x) AS total_chars",
        "array_max(transform(toks, t -> length(t))) AS max_tok_len",
        "element_at(map('first', element_at(toks, 1), 'last', element_at(toks, -1)), 'first') AS first_tok",
        "array_contains(toks, 'the') AS has_the",
    )


SCALAR_ARRAY_MAP_SQL = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_toks,
       CAST(len(list_filter(toks, t -> length(t) > 4)) AS INTEGER) AS n_long,
       CAST(list_reduce(list_prepend(0, list_transform(toks, t -> CAST(length(t) AS INTEGER))),
                        (acc, x) -> acc + x) AS INTEGER) AS total_chars,
       CAST(list_max(list_transform(toks, t -> length(t))) AS INTEGER) AS max_tok_len,
       -- DuckDB 1.x map extraction returns a LIST; [1] unwraps it (on a
       -- DuckDB returning scalars this would instead take the first char)
       map(['first', 'last'], [toks[1], toks[-1]])['first'][1] AS first_tok,
       list_contains(toks, 'the') AS has_the
FROM t
"""


def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL aggregation: money summed as DECIMAL(18,2) — exact fixed-point
    arithmetic in BOTH engines, no micro-cent tricks needed. Demonstrates the
    full numeric type system (the reference has only strings, job.h:17-24);
    at 100 TB decimal sums are also the documented replacement for the BIGINT
    micro-unit cap (parity.py docstring)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("p"))
        .groupBy("o_orderstatus")
        # decimal arithmetic throughout (exact fixed-point); final CAST to
        # DOUBLE only for presentation — pandas renders Spark's Decimal and
        # DuckDB's decimal-as-float differently, which would sink the string
        # compare even on equal values
        .agg(
            F.sum("p").cast("double").alias("total_dec"),
            F.max("p").cast("double").alias("max_dec"),
            F.count("*").alias("n"),
        )
    )


AGG_DECIMAL_SQL = """
SELECT o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_dec,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_dec,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
"""


def scalar_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / add_months / datediff arithmetic: monthly revenue with
    the order's age (in days) at a fixed reference date."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
            F.date_format(F.add_months(F.date_trunc("month", "o_orderdate"), 3), "yyyy-MM-dd").alias("quarter_out"),
            F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias("age_days"),
            "o_totalprice",
        )
        .groupBy("month", "quarter_out")
        .agg(
            F.expr(msum2("o_totalprice", SPARK)).alias("revenue"),
            F.min("age_days").alias("min_age_days"),
        )
    )


SCALAR_DATE_TRUNC_SQL = f"""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
       strftime(date_trunc('month', o_orderdate) + INTERVAL 3 MONTH, '%Y-%m-%d') AS quarter_out,
       {msum2("o_totalprice", DUCK)} AS revenue,
       CAST(min(datediff('day', o_orderdate, DATE '2002-01-01')) AS INTEGER) AS min_age_days
FROM orders
GROUP BY 1, 2
"""


def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling coverage: nullif manufactures nulls, then null-safe
    equality (<=>), coalesce, and null-skipping vs null-counting aggregates
    exercise the three-valued-logic surface."""
    o = load_table(spark, sf_dir, "orders")
    with_nulls = o.select(
        "o_orderkey",
        F.expr("nullif(o_orderstatus, 'P')").alias("status_n"),
        F.expr("CASE WHEN o_totalprice < 1000 THEN NULL ELSE o_totalprice END").alias("price_n"),
    )
    return with_nulls.groupBy(
        F.expr("status_n <=> NULL").alias("status_is_null"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("price_n").alias("n_price_nonnull"),
        F.expr(msum2("coalesce(price_n, 0.0)", SPARK)).alias("sum_price_coalesced"),
        F.coalesce(F.min("status_n"), F.lit("NONE")).alias("min_status"),
    )


SCALAR_NULL_SQL = f"""
SELECT (nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL) AS status_is_null,
       count(*) AS n_rows,
       count(CASE WHEN o_totalprice < 1000 THEN NULL ELSE o_totalprice END) AS n_price_nonnull,
       {msum2("coalesce(CASE WHEN o_totalprice < 1000 THEN NULL ELSE o_totalprice END, 0.0)", DUCK)}
         AS sum_price_coalesced,
       coalesce(min(nullif(o_orderstatus, 'P')), 'NONE') AS min_status
FROM orders
GROUP BY 1
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): per-status,
    per-priority, and grand-total aggregates in one pass. Catalyst expands
    this to a single Expand + one aggregation — one scan at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
               COALESCE(o_orderpriority, 'ALL') AS orderpriority,
               {msum2("o_totalprice", SPARK)} AS sum_price,
               count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


AGG_GROUPING_SETS_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       {msum2("o_totalprice", DUCK)} AS sum_price,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def events_sliding_10x5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min every 5), batch form of streaming
    ``sliding_counts`` — uses the REAL ``window()`` function (each event lands
    in exactly 2 windows); the oracle reproduces the window-start arithmetic
    with an unnest."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.expr(msum2("value", SPARK)).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVENTS_SLIDING_SQL = f"""
SELECT bucket_epoch, event_type, count(*) AS n_events, {msum2("value", DUCK)} AS sum_value
FROM (SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
                     CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)]) AS bucket_epoch,
             event_type, value
      FROM events) t
GROUP BY bucket_epoch, event_type
"""


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (15-min inactivity gap), batch form of
    streaming ``session_windows`` — uses the REAL ``session_window()``;
    the oracle derives identical sessions via gaps-and-islands SQL."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "15 minutes").alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.expr(msum2("value", SPARK)).alias("session_value"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def events_sessionize_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization IN SPARK (15-min inactivity gap):
    lag() marks session openers, a running sum over the same (user, ts,
    event_id) order numbers the islands, one aggregation emits full session
    stats (start/end/duration/count/value) — richer output than
    ``events_sessions``' session_window form, and the pattern generalizes to
    session predicates session_window can't express (attribute changes,
    per-user dynamic gaps). Same split rule as session_window (new session
    only when the gap EXCEEDS 15 min), micro-exact arithmetic.

    Scale: both windows and the final groupBy share one hashpartitioning on
    user_id — a single shuffle, then per-partition sorts. Island ids are
    per-user dense integers, deterministic under the (ts, event_id) total
    order."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 900_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = marked.withColumn("session_id", F.sum("new_session").over(w))
    return sess.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("duration_us"),
        F.count("*").alias("n_events"),
        F.expr(msum2("value", SPARK)).alias("session_value"),
    )


EVENTS_SESSIONIZE_ISLANDS_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 900000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM marked)
SELECT user_id, session_id,
       min(epoch_us(ts)) AS start_us,
       max(epoch_us(ts)) AS end_us,
       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us,
       count(*) AS n_events,
       {msum2("value", DUCK)} AS session_value
FROM sess
GROUP BY user_id, session_id
"""


def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe scalar family: try_cast (malformed → NULL),
    try_divide (÷0 → NULL), try_element_at (out-of-bounds → NULL) — the
    functions that keep a 100 TB job from dying on the one malformed row in
    shard 997. The oracle mirrors the NULL contracts with explicit CASE /
    TRY_CAST (DuckDB's raw ÷0 semantics differ, so the contract itself is
    spelled out)."""
    d = load_table(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id",
        # parses only when the string is numeric (every 3rd doc)
        "try_cast(CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS STRING) ELSE lang END AS INT) AS maybe_int",
        "try_divide(n_chars, doc_id % 5) AS chars_per_bucket",
        r"try_element_at(split(trim(text), '\\s+'), 3) AS third_tok",
        r"try_element_at(split(trim(text), '\\s+'), 1000) AS tok_1000",
    )


SCALAR_TRY_SQL = r"""
SELECT doc_id,
       TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR) ELSE lang END AS INT) AS maybe_int,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE CAST(n_chars AS DOUBLE) / (doc_id % 5) END AS chars_per_bucket,
       string_split_regex(trim(text), '\s+')[3] AS third_tok,
       string_split_regex(trim(text), '\s+')[1000] AS tok_1000
FROM documents
"""


EVENTS_SESSIONS_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         -- strictly greater: session_window MERGES an event exactly gap
         -- seconds after the previous one (verified empirically; an
         -- earlier review claimed >= — that splits what Spark merges)
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 900 OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start, user_id,
       count(*) AS n_events, {msum2("value", DUCK)} AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


def events_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: hourly event counts per type on a DENSE hour
    grid (missing hours zero-filled) with the last observed hourly sum
    forward-filled — the gap-fill + ffill pair every metrics/feature pipeline
    needs and Spark has no builtin for.

    Shape: the grid is sequence()+explode of a one-row global bounds
    aggregate cross-joined with the (tiny, broadcast) distinct type set —
    never a driver-side loop; the fill is a left join back to the hourly
    aggregate; the ffill is last(ignorenulls) over an hour-ordered window per
    type. At 100 TB the grid is |types| x |hours| (trivial) and the only big
    shuffle is the hourly pre-aggregation."""
    e = load_table(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    hourly = e.groupBy(F.col("event_type"), hour.alias("hour_epoch")).agg(
        F.count("*").alias("n"),
        F.expr(msum2("value", SPARK)).alias("s"),
    )
    bounds = e.agg(
        (F.floor(F.min(F.unix_timestamp("ts")) / 3600) * 3600).cast("bigint").alias("h0"),
        (F.floor(F.max(F.unix_timestamp("ts")) / 3600) * 3600).cast("bigint").alias("h1"),
    )
    hours = bounds.selectExpr("explode(sequence(h0, h1, 3600)) AS hour_epoch")
    types = e.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    filled = grid.join(hourly, ["event_type", "hour_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hour_epoch",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce(F.col("s"), F.lit(0.0)).alias("sum_value"),
        F.coalesce(F.last("s", ignorenulls=True).over(w), F.lit(0.0)).alias("ffill_sum"),
    )


EVENTS_GAPFILL_SQL = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
         count(*) AS n, {msum2("value", DUCK)} AS s
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT CAST(floor(min(epoch(ts)) / 3600) * 3600 AS BIGINT) AS h0,
         CAST(floor(max(epoch(ts)) / 3600) * 3600 AS BIGINT) AS h1
  FROM events),
hours AS (SELECT CAST(unnest(range(h0, h1 + 3600, 3600)) AS BIGINT) AS hour_epoch FROM bounds),
grid AS (SELECT t.event_type, h.hour_epoch
         FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
filled AS (
  SELECT g.event_type, g.hour_epoch, hourly.n, hourly.s
  FROM grid g LEFT JOIN hourly USING (event_type, hour_epoch))
SELECT event_type, hour_epoch,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       coalesce(s, 0.0) AS sum_value,
       coalesce(last_value(s IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY hour_epoch
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0.0) AS ffill_sum
FROM filled
"""


def scalar_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: tokens with their ordinal position (the generator that
    preserves provenance — token order — through the explode). Restricted to
    doc_id < 20 to keep the row count display-sized; DuckDB twin enumerates
    positions with a range->struct list since it lacks WITH ORDINALITY."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = d.selectExpr("doc_id", f"{WORD_TOKENS} AS toks")
    return toks.selectExpr(
        "doc_id", "posexplode(toks) AS (pos, tok)"
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")


SCALAR_POSEXPLODE_SQL = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE doc_id < 20)
SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok
FROM (SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1),
                                   i -> {'pos': i - 1, 'tok': toks[i]})) AS u
      FROM t) s
"""


def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distribution aggregates: percentile_disc (the smallest value
    whose cume_dist >= q — an ACTUAL data value, no interpolation, so
    cross-engine equality is exact) plus interpolated percentile_cont median.
    Expressed through the SQL front door (WITHIN GROUP syntax)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pd_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.9)  WITHIN GROUP (ORDER BY o_totalprice) AS p90,
               floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                     * 1000000 + 0.5) / 1000000 AS median_cont
        FROM _pd_orders
        GROUP BY o_orderstatus
        """
    )


AGG_PERCENTILE_DISC_SQL = """
SELECT o_orderstatus,
       quantile_disc(o_totalprice, 0.25) AS p25,
       quantile_disc(o_totalprice, 0.5) AS p50,
       quantile_disc(o_totalprice, 0.9) AS p90,
       floor(quantile_cont(o_totalprice, 0.5) * 1000000 + 0.5) / 1000000 AS median_cont
FROM orders
GROUP BY o_orderstatus
"""


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection: median / median-absolute-deviation
    with the 3×MAD rule over click values. percentile_disc keeps every
    statistic an ACTUAL data value (no interpolation), and |x−med| / 3·mad
    are single IEEE ops — the whole chain is cross-engine exact, unlike a
    stddev z-score whose sum-of-squares is reduction-order-dependent.

    Plan: two keyed exact medians (sort-based aggregation per user_id — one
    shuffle each over the filtered scan) and a broadcast join of the
    150-user stats table back onto the stream. At a cardinality where the
    per-key median itself is the bottleneck, approx_percentile is the
    sketch-path swap-in; the rule logic is unchanged."""
    load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    ).createOrReplaceTempView("_mad_clicks")
    return spark.sql(
        f"""
        WITH med AS (
          SELECT user_id,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
          FROM _mad_clicks GROUP BY user_id),
        dev AS (
          SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS adev
          FROM _mad_clicks e JOIN med m ON e.user_id = m.user_id),
        mad AS (
          SELECT user_id,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
          FROM dev GROUP BY user_id)
        SELECT d.user_id,
               count(*) AS n_events,
               {mround("max(d.med)", 6)} AS med,
               {mround("max(mad.mad)", 6)} AS mad,
               count(CASE WHEN d.adev > 3 * mad.mad THEN 1 END) AS n_outliers
        FROM dev d JOIN mad ON d.user_id = mad.user_id
        GROUP BY d.user_id
        """
    )


EVENTS_ANOMALY_MAD_SQL = f"""
WITH clicks AS (
  SELECT user_id, value FROM events WHERE event_type = 'click'),
med AS (
  SELECT user_id, quantile_disc(value, 0.5) AS med
  FROM clicks GROUP BY user_id),
dev AS (
  SELECT c.user_id, c.value, m.med, abs(c.value - m.med) AS adev
  FROM clicks c JOIN med m ON c.user_id = m.user_id),
mad AS (
  SELECT user_id, quantile_disc(adev, 0.5) AS mad
  FROM dev GROUP BY user_id)
SELECT d.user_id,
       count(*) AS n_events,
       {mround("max(d.med)", 6)} AS med,
       {mround("max(mad.mad)", 6)} AS mad,
       count(CASE WHEN d.adev > 3 * mad.mad THEN 1 END) AS n_outliers
FROM dev d JOIN mad ON d.user_id = mad.user_id
GROUP BY d.user_id
"""


def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling: keep each doc with probability equal to
    its length-based weight — deterministic (hash-uniform, not rand()) and
    TRANSCENDENTAL-FREE so both engines agree bit-for-bit: keep iff
    h60 < floor(weight * 2^60). 2^60 is a power of two, so weight * 2^60 is
    an EXACT IEEE scaling — no ulp drift, unlike the -ln(u)/w reservoir key.
    Map-side filter, no shuffle; at 100 TB this is the quality-weighted
    downsampling pass of a training mix."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.selectExpr(
        "doc_id", "source", r"size(split(trim(text), '\\s+')) AS n_toks"
    )
    w = F.least(F.col("n_toks") / F.lit(64.0), F.lit(1.0))
    h = F.expr(
        "CAST(conv(substring(md5(concat('wsamp|', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        toks.withColumn("keep_thresh", F.floor(w * F.lit(float(2**60))).cast("bigint"))
        .filter(h < F.col("keep_thresh"))
        .select(
            "doc_id",
            "source",
            (F.floor(w * 1000000 + F.lit(0.5)) / 1000000).alias("weight"),
        )
    )


SAMPLE_WEIGHTED_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         least(len(string_split_regex(trim(text), '\s+')) / 64.0, 1.0) AS w,
         CAST(('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents)
SELECT doc_id, source, floor(w * 1000000 + 0.5) / 1000000 AS weight
FROM t
WHERE h < CAST(floor(w * 1152921504606846976) AS BIGINT)
"""


def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family: extract / replace / count / match-test. Patterns
    are restricted to the dialect-neutral subset (character classes, +,
    anchors) that Java's regex (Spark) and RE2 (DuckDB) evaluate identically
    — no backrefs, no lookaround, no \\d-style classes whose Unicode scope
    differs."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "([0-9]+)", 1).alias("first_num"),
        F.expr("regexp_count(text, '[aeiou]')").cast("bigint").alias("n_vowels"),
        F.col("text").rlike("^[A-Za-z]").alias("starts_alpha"),
        F.substring(F.regexp_replace("text", "[ ]+", "_"), 1, 40).alias("squashed40"),
    )


SCALAR_REGEX_SQL = """
SELECT doc_id,
       regexp_extract(text, '([0-9]+)', 1) AS first_num,
       CAST(len(regexp_extract_all(text, '[aeiou]')) AS BIGINT) AS n_vowels,
       regexp_matches(text, '^[A-Za-z]') AS starts_alpha,
       substring(regexp_replace(text, '[ ]+', '_', 'g'), 1, 40) AS squashed40
FROM documents
"""


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=>): group keys made deliberately nullable via
    nullif; the NULL customer group must pair with the NULL supplier group
    (plain = would drop both). Spark's eqNullSafe maps to DuckDB's
    IS NOT DISTINCT FROM; the join stays a hash equi-join — null-safe
    equality is still a shuffle key, not a theta predicate."""
    c = (
        load_table(spark, sf_dir, "customer")
        .select(F.nullif(F.pmod("c_custkey", F.lit(7)), F.lit(0)).alias("grp"))
        .groupBy("grp")
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .select(F.nullif(F.pmod("s_suppkey", F.lit(7)), F.lit(0)).alias("grp"))
        .groupBy("grp")
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.alias("c")
        .join(s.alias("s"), F.col("c.grp").eqNullSafe(F.col("s.grp")))
        .select(F.col("c.grp").alias("grp"), "n_cust", "n_supp")
    )


JOIN_NULL_SAFE_SQL = """
WITH c AS (
  SELECT nullif(c_custkey % 7, 0) AS grp, count(*) AS n_cust
  FROM customer GROUP BY 1),
s AS (
  SELECT nullif(s_suppkey % 7, 0) AS grp, count(*) AS n_supp
  FROM supplier GROUP BY 1)
SELECT c.grp, n_cust, n_supp
FROM c JOIN s ON c.grp IS NOT DISTINCT FROM s.grp
"""


def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: one pass over events producing
    hourly, daily, and grand-total aggregates via ROLLUP (day, hour) — the
    continuous-aggregate materialization shape (compute once, serve three
    granularities). NULL grouping cells surfaced as sentinels so levels are
    distinguishable and string-comparable across engines."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    hr = F.hour("ts").cast("bigint")
    return (
        e.rollup(day.alias("day"), hr.alias("hr"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(msum2("value", SPARK)).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            F.coalesce(F.col("hr"), F.lit(-1)).alias("hr"),
            "n_events",
            "sum_value",
        )
    )


EVENTS_TIME_ROLLUP_SQL = f"""
SELECT COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
       CAST(COALESCE(hour(ts), -1) AS BIGINT) AS hr,
       count(*) AS n_events,
       {msum2("value", DUCK)} AS sum_value
FROM events
GROUP BY ROLLUP (strftime(ts, '%Y-%m-%d'), hour(ts))
"""


def scalar_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct (nested-type) scalar family: build, field-access, nest, and
    serialize — the complex-type surface beside array/map/json. Output stays
    flat (extracted fields + compact to_json, identical text in both
    engines); no raw struct column ships to the comparator."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"), F.col("c_nationkey").alias("nation")
        ).alias("s"),
    ).select(
        "c_custkey",
        F.col("s.name").alias("name"),
        F.col("s.nation").alias("nation"),
        F.to_json(F.struct(F.col("s").alias("who"), F.col("c_custkey").alias("id"))).alias(
            "as_json"
        ),
    )


SCALAR_STRUCT_SQL = """
WITH s AS (
  SELECT c_custkey, struct_pack(name := c_name, nation := c_nationkey) AS s
  FROM customer)
SELECT c_custkey, s.name AS name, s.nation AS nation,
       to_json(struct_pack(who := s, id := c_custkey)) AS as_json
FROM s
"""


def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family over integer keys: AND/OR/XOR, shifts, bit
    count — exact int64, codegen-only."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("low_byte"),
        F.expr("o_orderkey | 1").alias("set_lsb"),
        F.expr("o_orderkey ^ 21845").alias("xored"),
        F.expr("shiftleft(o_orderkey, 3)").alias("shl3"),
        F.expr("shiftright(o_orderkey, 2)").alias("shr2"),
        F.expr("CAST(bit_count(o_orderkey) AS BIGINT)").alias("popcount"),
    )


SCALAR_BITWISE_SQL = """
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 1 AS set_lsb,
       xor(o_orderkey, 21845) AS xored,
       o_orderkey << 3 AS shl3,
       o_orderkey >> 2 AS shr2,
       CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
FROM orders
"""


def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): the distinct
    priorities per order status, sorted then joined — deterministic because
    the collect_set is array_sort'ed BEFORE the join (never rely on
    collection order out of a shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
        F.count("*").alias("n_orders"),
    )


AGG_STRING_AGG_SQL = """
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def events_pattern_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing lite (MATCH_RECOGNIZE's most common pattern):
    per user, find runs of 3 consecutive `error` events within 24 hours —
    lag(ts, 2) over the per-user ordered error stream, exact integer
    microsecond arithmetic (unix_micros / epoch_us). One shuffle on user_id;
    the scan reads only error rows (pushed filter)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    errs = (
        e.filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id", F.unix_micros("ts").alias("us"))
        .withColumn("lag2_us", F.lag("us", 2).over(w))
    )
    return (
        errs.filter(F.col("us") - F.col("lag2_us") <= 86_400_000_000)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_bursts"),
            F.min("event_id").alias("first_burst_event"),
        )
    )


EVENTS_PATTERN_BURST_SQL = """
WITH errs AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts), 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag2_us
  FROM events WHERE event_type = 'error')
SELECT user_id, count(*) AS n_bursts, min(event_id) AS first_burst_event
FROM errs WHERE us - lag2_us <= 86400000000
GROUP BY user_id
"""


def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction with Spark's native ``parse_url`` (HOST /
    PATH / keyed QUERY) — the log-pipeline scalar family. URLs are built
    deterministically from document fields so the parse is verifiable; the
    oracle extracts the same components with RE2 regexes (DuckDB has no
    parse_url). Expression-only, whole-stage-codegen."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


SCALAR_URL_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
           || '?lang=' || lang AS url
  FROM documents)
SELECT doc_id, url,
       regexp_extract(url, 'https://([^/]+)', 1) AS host,
       regexp_extract(url, 'https://[^/]+([^?]+)', 1) AS path,
       regexp_extract(url, 'lang=([^&]*)', 1) AS lang_param
FROM u
"""


def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent o_orderpriority within
    each o_orderstatus, ties broken by the smallest priority string. Built as
    count-group + grouped-top-1 (row_number over cnt DESC, value ASC) rather
    than a native mode() so the tie-break is EXPLICIT — native modes pick
    arbitrary winners on ties, which can never hash-match across engines.
    Scale: the heavy groupBy partial-aggregates map-side to (status, priority)
    cells; the window runs over ≤ groups×values tiny rows."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("cnt"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("n_rows"),
        )
    )


AGG_MODE_SQL = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS n_rows
FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority) AS rn
  FROM orders GROUP BY o_orderstatus, o_orderpriority)
WHERE rn = 1
"""


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bucket = floor(price / 25000).
    The binning is a single IEEE division + floor — bit-identical across
    engines (no data-dependent bounds, no round()) — so the histogram is one
    map-side-combined groupBy; min/max per bucket carry stored doubles with
    zero arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("bucket", F.floor(F.col("o_totalprice") / 25000.0).cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


AGG_HISTOGRAM_SQL = """
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       count(*) AS n_orders,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders GROUP BY 1
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over events: first `view` per user, then the
    first `click` within 1 hour AFTER that view, then the first `purchase`
    within 1 hour after that click — the product-analytics conversion query
    (cf. MATCH_RECOGNIZE / funnel UDFs in other engines).

    Shape: ONE pass — the scan filters to the three funnel types, one
    exchange on user_id, and the stage chain is three stacked
    whole-partition window aggregates (each stage time is a per-user
    constant, so t_click reads t_view as a window value; min() over a CASE
    with no ELSE skips NULLs, so a user with no view nulls the click
    condition — exactly the old inner joins' drop semantics). Before r12
    this was three stage aggregations re-joined onto per-type scans: 6
    events scans in the declared plan, now 1, and the one shuffle carries
    only funnel-type rows. Final counts are one global aggregate of
    non-null stage times — the stage tables and their crossJoined 1-row
    counts no longer exist.

    Skew trade-off (recorded per the r12 advice): whole-partition windows
    buffer/sort every funnel-type event of a user inside ONE WindowExec
    partition, where the old per-stage groupBys pre-aggregated map-side. A
    pathologically hot user (bot traffic at 100 TB) therefore spills here
    before it would have under the old shape — if a hot-key regression ever
    lands on this entry, this shape change is the first suspect; the fix is
    a pre-aggregation to (user_id, event_type, min-candidates) before the
    window, not a revert to six scans."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts")
    )
    hour = F.expr("INTERVAL 1 HOUR")
    wu = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + hour),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + hour),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
    )


EVENTS_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
  GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked,
       (SELECT count(*) FROM p) AS n_purchased
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by the DAY of their first
    `signup` event; each later active day counts toward (cohort_day,
    day_offset) with distinct users — the classic triangle every growth
    dashboard renders.

    Shape: one groupBy(user_id) for cohort assignment, one equi-join back to
    events on user_id (cohort side is one row per user — broadcastable at any
    corpus size where users ≪ events), then a distinct-count grouped by
    (cohort_day, offset). Day arithmetic is integer datediff — exact across
    engines."""
    e = load_table(spark, sf_dir, "events")
    cohorts = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .select("user_id", F.to_date("t0").alias("cohort_day"), "t0")
    )
    return (
        e.join(cohorts, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.to_date("ts"), F.col("cohort_day")).cast("bigint").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


EVENTS_RETENTION_SQL = """
WITH cohorts AS (
  SELECT user_id, min(ts) AS t0, CAST(min(ts) AS DATE) AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN cohorts c USING (user_id)
WHERE e.ts >= c.t0
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Linear-regression / covariance aggregates — exact-integer formulation
# ---------------------------------------------------------------------------

def _regr_exprs() -> dict[str, str]:
    """Shared Spark/DuckDB expression text for covariance + OLS slope /
    intercept of l_extendedprice (y, money) on l_quantity (x, integral).

    Engines' built-in covar_pop/regr_* use single-pass update formulas whose
    float reduction order differs per engine/parallelism — instead the four
    sufficient statistics are EXACT integer sums (quantity is integral,
    price sits on the 2-decimal money grid → cents), and the final moment
    algebra is one fixed-order double chain identical in both dialects, so
    the results are bit-identical. Per-row |x*y_cents| ≤ 50*1e7; int64 sums
    are safe to ~1e11 rows/group — past that, swap the inner CAST to
    DECIMAL(38,0) exactly as parity.msum2 documents."""
    xi = "CAST(l_quantity AS BIGINT)"
    yc = cents("l_extendedprice", 100)
    n = "CAST(count(*) AS DOUBLE)"
    sx = f"CAST(sum({xi}) AS DOUBLE)"
    sy = f"CAST(sum({yc}) AS DOUBLE)"
    sxy = f"CAST(sum({xi} * {yc}) AS DOUBLE)"
    sxx = f"CAST(sum({xi} * {xi}) AS DOUBLE)"
    covar_c = f"(({sxy} / {n}) - (({sx} / {n}) * ({sy} / {n})))"  # cents·qty
    var_x = f"(({sxx} / {n}) - (({sx} / {n}) * ({sx} / {n})))"
    return {
        "n_pairs": "count(*)",
        "avg_qty": mround(f"{sx} / {n}", 6),
        "avg_price": mround(f"{sy} / {n} / 100", 4),
        "covar_pop": mround(f"{covar_c} / 100", 4),
        "var_qty": mround(var_x, 6),
        # nullif guards the degenerate constant-x group: Spark's non-ANSI
        # division yields NULL on /0 but DuckDB follows IEEE (inf/nan) — the
        # guard makes slope/intercept NULL on BOTH engines.
        "slope": mround(f"{covar_c} / nullif({var_x}, 0) / 100", 6),
        "intercept": mround(
            f"({sy} / {n} / 100) - ({covar_c} / nullif({var_x}, 0) / 100) * ({sx} / {n})",
            4,
        ),
    }


def agg_covar_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + OLS regression aggregates (the covar_pop / regr_slope /
    regr_intercept family) per l_returnflag, in the exact-sufficient-statistic
    formulation of :func:`_regr_exprs`.

    Scale: four integer sums fold in ONE partial-aggregation pass (map-side
    combine, 24 bytes of state per group) — same shuffle profile as a plain
    sum; the moment algebra is post-aggregation scalar work on one row per
    group. This is how regression on 100 TB stays a single-pass groupBy."""
    l = load_table(spark, sf_dir, "lineitem")
    ex = _regr_exprs()
    return l.groupBy("l_returnflag").agg(
        *[F.expr(sql).alias(name) for name, sql in ex.items()]
    )


AGG_COVAR_REGR_SQL = (
    "SELECT l_returnflag, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _regr_exprs().items())
    + " FROM lineitem GROUP BY l_returnflag"
)


def agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/bitwise aggregate family: bool_and/bool_or over predicates,
    bit_and/bit_or/bit_xor over an 8-bit key fold — exact integer/boolean
    state, so cross-engine parity needs no rounding. All five are
    partial-aggregatable single-value states (1-8 bytes/group)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("bool_and(o_totalprice > 1000)").alias("all_above_1k"),
        F.expr("bool_or(o_orderpriority = '1-URGENT')").alias("any_urgent"),
        F.expr("bit_and(o_custkey % 256)").alias("key_bits_and"),
        F.expr("bit_or(o_custkey % 256)").alias("key_bits_or"),
        F.expr("bit_xor(o_custkey % 256)").alias("key_bits_xor"),
    )


AGG_BOOL_BITWISE_SQL = """
SELECT o_orderstatus,
       bool_and(o_totalprice > 1000) AS all_above_1k,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       bit_and(o_custkey % 256) AS key_bits_and,
       bit_or(o_custkey % 256) AS key_bits_or,
       bit_xor(o_custkey % 256) AS key_bits_xor
FROM orders
GROUP BY o_orderstatus
"""


def agg_max_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates (max_by/min_by ↔ DuckDB's same-named
    arg_max aliases): which order carries the extreme price per status.
    The measure is de-tied deterministically (price in integer cents * 2^20
    + orderkey — exact integer-valued doubles, unique per row) so both
    engines pick the identical winner; single-value aggregation state."""
    o = load_table(spark, sf_dir, "orders")
    measure = "floor(o_totalprice * 100 + 0.5) * 1048576 + o_orderkey % 1048576"
    return o.groupBy("o_orderstatus").agg(
        F.expr(f"max_by(o_orderkey, {measure})").alias("top_order"),
        F.expr(f"min_by(o_orderkey, {measure})").alias("bottom_order"),
        F.expr(mround("max(o_totalprice)", 2)).alias("top_price"),
        F.expr(mround("min(o_totalprice)", 2)).alias("bottom_price"),
    )


AGG_MAX_MIN_BY_SQL = """
SELECT o_orderstatus,
       max_by(o_orderkey, floor(o_totalprice * 100 + 0.5) * 1048576 + o_orderkey % 1048576) AS top_order,
       min_by(o_orderkey, floor(o_totalprice * 100 + 0.5) * 1048576 + o_orderkey % 1048576) AS bottom_order,
       floor(max(o_totalprice) * 100 + 0.5) / 100 AS top_price,
       floor(min(o_totalprice) * 100 + 0.5) / 100 AS bottom_price
FROM orders
GROUP BY o_orderstatus
"""


def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark join: every customer row annotated with an EXISTS flag (has at
    least one URGENT order) — the projection-position EXISTS that optimizers
    compile to a 'mark' join, here as left join against the distinct flag
    keys. Unlike join_semi/join_anti this KEEPS all probe rows and adds a
    boolean.

    Scale: the flag side partial-aggregates to distinct custkeys before the
    shuffle (orders-per-customer dedup happens map-side), so the join input
    is bounded by customer cardinality, not order count."""
    c = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("flag", F.lit(True))
    )
    return c.join(urgent, "c_custkey", "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("flag"), F.lit(False)).alias("has_urgent"),
    )


JOIN_EXISTENCE_FLAG_SQL = """
SELECT c_custkey, c_name,
       EXISTS(SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT') AS has_urgent
FROM customer c
"""


def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostic: the top-20 hottest event keys with their
    share of total traffic and hot/mean ratio — the report you run BEFORE
    picking join/agg strategies (salting, AQE skew thresholds) on a new
    100 TB table.

    Scale: per-key counts partial-aggregate map-side; the two corpus scalars
    (total, distinct keys) ride the same aggregated (key,cnt) set and join
    back via broadcast of ONE row; top-20 is TakeOrderedAndProject, never a
    global sort."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        counts.join(F.broadcast(totals))
        .select(
            "user_id",
            "cnt",
            F.expr(mround("CAST(cnt AS DOUBLE) / total", 6)).alias("share"),
            F.expr(mround("CAST(cnt AS DOUBLE) * n_keys / total", 6)).alias(
                "ratio_to_avg"
            ),
        )
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(20)
    )


DIAG_KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
totals AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM counts)
SELECT user_id, cnt,
       {mround("CAST(cnt AS DOUBLE) / total", 6)} AS share,
       {mround("CAST(cnt AS DOUBLE) * n_keys / total", 6)} AS ratio_to_avg
FROM counts CROSS JOIN totals
ORDER BY cnt DESC, user_id ASC
LIMIT 20
"""


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) median: per return flag, the smallest
    l_extendedprice whose cumulative l_quantity weight reaches half the
    group's total — the weighted-percentile primitive (no engine builtin
    computes weighted percentiles). Deterministic: the cumsum runs over the
    total order (price, orderkey, linenumber), so ties can't reorder
    between engines; values are surfaced verbatim (no float arithmetic).

    Scale — TWO-LEVEL sweep (r06 verdict #6, the shape that survives 100x):
    a single PARTITION BY l_returnflag window would drag the whole fact
    through 3 partitions (one per flag — maximal skew at 100 TB). Instead
    the cumsum is split: (1) bucket each row by a price range key that is
    monotone in the sort order (same price => same bucket, so tie order
    never crosses buckets), (2) run the windowed cumsum PARTITIONED BY
    (flag, bucket) — thousands of balanced partitions instead of 3, (3)
    compute per-bucket totals (a partial-agg groupBy), prefix-sum them over
    the tiny (flags x ~30 buckets) aggregate, and broadcast the offsets
    back. cum_w = bucket offset + within-bucket cumsum, bit-identical to
    the one-window form (the oracle keeps the textbook single window)."""
    l = load_table(spark, sf_dir, "lineitem")
    # price-range bucket, monotone in l_extendedprice (cents DIV 2^18 ~= 40
    # buckets over TPC-H's 900..105000 price range); equal prices share a
    # bucket so the (price, orderkey, linenumber) tie order is bucket-local
    rows = l.selectExpr(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        "CAST(l_quantity AS BIGINT) AS w",
        f"{cents('l_extendedprice', 100)} DIV 262144 AS pb",
    )
    wb = (
        Window.partitionBy("l_returnflag", "pb")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # per-bucket totals -> exclusive prefix offsets + per-flag grand totals
    # over the bounded-key aggregate (flags x buckets rows), then broadcast
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("pb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = Window.partitionBy("l_returnflag")
    offsets = (
        rows.groupBy("l_returnflag", "pb")
        .agg(F.sum("w").alias("bucket_w"))
        .select(
            "l_returnflag",
            "pb",
            F.coalesce(F.sum("bucket_w").over(wo), F.lit(0)).alias("off_w"),
            F.sum("bucket_w").over(wf).alias("tot_w"),
        )
    )
    marked = (
        rows.withColumn("in_w", F.sum("w").over(wb))
        .join(F.broadcast(offsets), ["l_returnflag", "pb"])
        .select(
            "l_returnflag",
            "l_extendedprice",
            (F.col("off_w") + F.col("in_w")).alias("cum_w"),
            "tot_w",
        )
    )
    return (
        marked.filter(F.expr("2 * cum_w >= tot_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.max("tot_w").alias("total_weight"),
        )
    )


AGG_WEIGHTED_MEDIAN_SQL = """
WITH marked AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag) AS tot_w
  FROM lineitem)
SELECT l_returnflag,
       min(l_extendedprice) AS weighted_median,
       CAST(max(tot_w) AS BIGINT) AS total_weight
FROM marked
WHERE 2 * cum_w >= tot_w
GROUP BY l_returnflag
"""


def diag_column_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-cardinality profile: EXACT distinct counts for the lineitem
    join/grouping candidate columns plus the row total, in ONE aggregate —
    the profiling pass behind broadcast-vs-shuffle and bucketing decisions
    (a column with NDV ≈ n_rows is a join key; NDV ≤ thousands is a
    broadcast dim or dictionary-encoding win).

    Scale: Spark compiles multi-column count(DISTINCT) into one Expand
    (one input row → one row per distinct-column) + two-level aggregation —
    a single scan and one shuffle of (column-tag, value) pairs instead of
    one scan per column; at petabyte scale swap the exact counts for the
    mergeable HLL sketches (`sketch_hll_md5_merge`), same plan
    shape. This exact twin is the oracle-checkable form."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("ndv_orderkey"),
        F.countDistinct("l_partkey").alias("ndv_partkey"),
        F.countDistinct("l_suppkey").alias("ndv_suppkey"),
        F.countDistinct("l_shipdate").alias("ndv_shipdate"),
        F.countDistinct("l_returnflag").alias("ndv_returnflag"),
    )


DIAG_COLUMN_NDV_SQL = """
SELECT count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS ndv_orderkey,
       count(DISTINCT l_partkey) AS ndv_partkey,
       count(DISTINCT l_suppkey) AS ndv_suppkey,
       count(DISTINCT l_shipdate) AS ndv_shipdate,
       count(DISTINCT l_returnflag) AS ndv_returnflag
FROM lineitem
"""


def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long): the three lineitem rate columns become
    (metric, value) rows via the native ``DataFrame.unpivot`` operator —
    the inverse of `pivot_status_priority`. Sampled on the order key so the
    long output stays bounded.

    Scale: unpivot is a per-row Expand (no shuffle, no UDF); output rows =
    input × n_metrics, so at 100 TB melt AFTER filtering/aggregation, not
    before — the filter here models that."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.expr("l_orderkey % 50 = 0"))
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )


RESHAPE_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, metric, value
FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
      FROM lineitem WHERE l_orderkey % 50 = 0)
UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
"""


def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour), the Open (first value),
    High, Low, Close (last value) and count — the metrics/time-series rollup
    every observability store materializes. First/last are picked by
    row_number over the total order (ts, event_id), not packed-measure
    argmax, so ties in ts stay deterministic.

    Scale: the window and the groupBy share ONE hashpartitioning on
    (event_type, hour) — a single shuffle; at 100 TB this is the classic
    downsample-on-ingest shape (cardinality = types × hours, tiny)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hr").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    marked = base.select(
        "event_type",
        "hr",
        "value",
        F.row_number().over(w).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        marked.groupBy("event_type", "hr")
        .agg(
            F.expr(mround("max(CASE WHEN rn_a = 1 THEN value END)", 6)).alias("open"),
            F.expr(mround("max(value)", 6)).alias("high"),
            F.expr(mround("min(value)", 6)).alias("low"),
            F.expr(mround("max(CASE WHEN rn_d = 1 THEN value END)", 6)).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


EVENTS_OHLC_SQL = f"""
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id, value
  FROM events),
marked AS (
  SELECT event_type, hr, value,
         row_number() OVER (PARTITION BY event_type, hr ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY event_type, hr ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM base)
SELECT event_type,
       strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
       {mround("max(CASE WHEN rn_a = 1 THEN value END)", 6)} AS open,
       {mround("max(value)", 6)} AS high,
       {mround("min(value)", 6)} AS low,
       {mround("max(CASE WHEN rn_d = 1 THEN value END)", 6)} AS close,
       count(*) AS n_events
FROM marked
GROUP BY event_type, hr
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    for each ordered (prev_type → next_type) pair, the transition count
    and conditional probability P(next | prev) — the model behind journey
    prediction, anomalous-sequence detection, and session simulators.

    Determinism: counts are integers; each probability is ONE division of
    two integers, then mround(6) — no float aggregation anywhere.

    Scale: lag() shares the user_id shuffle; the transition groupBy keys
    on (prev, next) — at most |types|² groups (25 here), so partial
    aggregation collapses each partition to a handful of rows before the
    second (tiny) shuffle. State space, not data, bounds the output."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        e.select("user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counted = pairs.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    wrow = Window.partitionBy("prev_type")
    return counted.withColumn("row_total", F.sum("n").over(wrow)).selectExpr(
        "prev_type",
        "next_type",
        "n",
        f"{mround('CAST(n AS DOUBLE) / row_total', 6)} AS prob",
    )


EVENTS_MARKOV_SQL = f"""
WITH pairs AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events),
counted AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type)
SELECT prev_type, next_type, n,
       {mround('CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)', 6)} AS prob
FROM counted
"""


def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, recency (µs since the corpus-max ts),
    frequency (event count), monetary (exact-cents value sum), each cut
    into quartiles by ntile(4), concatenated into the classic 'RFM'
    segment code (recency quartile 1 = most recent). The standard
    customer-value segmentation, done engine-side.

    Determinism: recency/frequency are integers; monetary is an integer
    cents sum; every ntile ORDER BY carries user_id as a unique tiebreak
    so quartile boundaries are total-order stable across engines.

    Scale: one groupBy(user_id), then three ntile windows over the USER
    table (rows = distinct users, orders of magnitude smaller than
    events). The un-partitioned ntile is a deliberate single-task sort of
    that reduced table; for billions of users switch to percent_rank via
    a global sort or approximate quantile cuts — same output contract."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count("*").alias("frequency"),
        F.sum(F.expr(cents("value"))).alias("monetary_c"),
    )
    gmax = per_user.agg(F.max("last_us").alias("gmax_us"))
    scored = per_user.crossJoin(F.broadcast(gmax)).withColumn(
        "recency_us", F.col("gmax_us") - F.col("last_us")
    )
    wr = Window.orderBy(F.asc("recency_us"), F.asc("user_id"))
    wf = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    wm = Window.orderBy(F.desc("monetary_c"), F.asc("user_id"))
    return (
        scored.withColumn("r_q", F.ntile(4).over(wr))
        .withColumn("f_q", F.ntile(4).over(wf))
        .withColumn("m_q", F.ntile(4).over(wm))
        .selectExpr(
            "user_id",
            "recency_us",
            "frequency",
            "CAST(monetary_c AS DOUBLE) / 1000000 AS monetary",
            "CAST(r_q AS INT) AS r_q",
            "CAST(f_q AS INT) AS f_q",
            "CAST(m_q AS INT) AS m_q",
            "concat(CAST(r_q AS STRING), CAST(f_q AS STRING), CAST(m_q AS STRING)) AS segment",
        )
    )


EVENTS_RFM_SQL = f"""
WITH per_user AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS frequency,
         sum({cents('value')}) AS monetary_c
  FROM events GROUP BY user_id),
scored AS (
  SELECT user_id, (SELECT max(last_us) FROM per_user) - last_us AS recency_us,
         frequency, monetary_c
  FROM per_user),
cut AS (
  SELECT user_id, recency_us, frequency, monetary_c,
         ntile(4) OVER (ORDER BY recency_us ASC, user_id ASC) AS r_q,
         ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS f_q,
         ntile(4) OVER (ORDER BY monetary_c DESC, user_id ASC) AS m_q
  FROM scored)
SELECT user_id, recency_us, frequency,
       CAST(monetary_c AS DOUBLE) / 1000000 AS monetary,
       CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
       CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR) AS segment
FROM cut
"""


ATTRIB_HORIZON_US = 24 * 3600 * 1_000_000  # last-touch attribution window


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to the
    user's most recent click/view STRICTLY before it, if that touch falls
    within a 24 h horizon — otherwise the purchase is 'organic' (NULL
    touch). The standard conversion-credit join, computed with ZERO joins:
    one pass over the event stream with last(..., ignorenulls) over an
    UNBOUNDED-PRECEDING-to-1-PRECEDING frame carries the latest touch
    forward; purchases just read it.

    Scale: one shuffle on user_id, O(1) window state per row (last-value
    frames stream). The equivalent as-of join would shuffle both sides;
    this never materializes a touch table at all.

    Tie boundary: the ROWS frame admits a touch sharing the purchase's
    exact microsecond if it sorts earlier by event_id; the multi-touch
    companion uses a value-based RANGE frame that ends at us−1 and
    excludes ALL same-instant touches (ROWS and RANGE cannot agree at
    ties — each operator documents its own rule)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = e.selectExpr(
        "user_id", "event_id", "event_type", "unix_micros(ts) AS us"
    )
    touch = "event_type IN ('click', 'view')"
    marked = base.selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "us",
        f"CASE WHEN {touch} THEN event_id END AS t_ev",
        f"CASE WHEN {touch} THEN us END AS t_us",
        f"CASE WHEN {touch} THEN event_type END AS t_ty",
    )
    attr = (
        marked.withColumn("lt_ev", F.last("t_ev", ignorenulls=True).over(w))
        .withColumn("lt_us", F.last("t_us", ignorenulls=True).over(w))
        .withColumn("lt_ty", F.last("t_ty", ignorenulls=True).over(w))
        .filter("event_type = 'purchase'")
    )
    in_h = f"lt_us IS NOT NULL AND us - lt_us <= {ATTRIB_HORIZON_US}"
    return attr.selectExpr(
        "user_id",
        "event_id AS purchase_id",
        "us AS purchase_us",
        f"CASE WHEN {in_h} THEN lt_ev END AS touch_id",
        f"CASE WHEN {in_h} THEN lt_ty END AS touch_type",
        f"CASE WHEN {in_h} THEN us - lt_us END AS gap_us",
        f"CAST(NOT ({in_h}) AS BOOLEAN) AS organic",
    )


EVENTS_ATTRIB_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN event_type IN ('click', 'view') THEN event_id END AS t_ev,
         CASE WHEN event_type IN ('click', 'view') THEN epoch_us(ts) END AS t_us,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END AS t_ty
  FROM events),
attr AS (
  SELECT user_id, event_id, event_type, us,
         last_value(t_ev IGNORE NULLS) OVER w AS lt_ev,
         last_value(t_us IGNORE NULLS) OVER w AS lt_us,
         last_value(t_ty IGNORE NULLS) OVER w AS lt_ty
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id AS purchase_id, us AS purchase_us,
       CASE WHEN lt_us IS NOT NULL AND us - lt_us <= {ATTRIB_HORIZON_US}
            THEN lt_ev END AS touch_id,
       CASE WHEN lt_us IS NOT NULL AND us - lt_us <= {ATTRIB_HORIZON_US}
            THEN lt_ty END AS touch_type,
       CASE WHEN lt_us IS NOT NULL AND us - lt_us <= {ATTRIB_HORIZON_US}
            THEN us - lt_us END AS gap_us,
       CAST(NOT (lt_us IS NOT NULL AND us - lt_us <= {ATTRIB_HORIZON_US})
            AS BOOLEAN) AS organic
FROM attr WHERE event_type = 'purchase'
"""


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen day, each
    cohort's cumulative monetary value tracked per week offset — the
    retention-revenue matrix behind LTV forecasting. Monetary values are
    exact integer cents; the cumulative sum runs over week offsets within
    a cohort, so the curve is order-exact.

    Scale: the first-seen groupBy and the per-(cohort, week) aggregation
    both key on user_id first (one shuffle, partial agg), the cohort
    running sum is a window over the REDUCED (cohort × week) table —
    thousands of rows at any corpus size."""
    e = load_table(spark, sf_dir, "events")
    base = e.selectExpr(
        "user_id",
        "CAST(ts AS DATE) AS day",
        f"{cents('value')} AS vc",
    )
    wfirst = Window.partitionBy("user_id")
    tagged = base.withColumn("cohort_day", F.min("day").over(wfirst)).selectExpr(
        "user_id",
        "cohort_day",
        "CAST(datediff(day, cohort_day) div 7 AS INT) AS week_off",
        "vc",
    )
    grp = tagged.groupBy("cohort_day", "week_off").agg(
        F.sum("vc").alias("vc_sum"),
        F.countDistinct("user_id").alias("n_active"),
    )
    wcum = (
        Window.partitionBy("cohort_day")
        .orderBy("week_off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grp.withColumn("cum_vc", F.sum("vc_sum").over(wcum))
        .selectExpr(
            "date_format(cohort_day, 'yyyy-MM-dd') AS cohort_day",
            "week_off",
            "n_active",
            "CAST(cum_vc AS DOUBLE) / 1000000 AS cum_ltv",
        )
    )


EVENTS_COHORT_LTV_SQL = f"""
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS day, {cents('value')} AS vc
  FROM events),
tagged AS (
  SELECT user_id, min(day) OVER (PARTITION BY user_id) AS cohort_day, day, vc
  FROM base),
grp AS (
  SELECT cohort_day,
         CAST(date_diff('day', cohort_day, day) // 7 AS INT) AS week_off,
         sum(vc) AS vc_sum, count(DISTINCT user_id) AS n_active
  FROM tagged GROUP BY 1, 2)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, week_off, n_active,
       CAST(sum(vc_sum) OVER (PARTITION BY cohort_day ORDER BY week_off
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / 1000000 AS cum_ltv
FROM grp
"""


def events_attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits its credit
    equally across ALL clicks/views in the preceding 24 h — the
    fair-share counterpart of `events_attribution_last_touch` (which
    gives the final touch everything). Purchases with no touch in the
    horizon are organic and emit nothing.

    The horizon is expressed as a RANGE frame over event-time micros
    (RANGE BETWEEN HORIZON PRECEDING AND 1 PRECEDING), so the collected
    touch list is bounded by per-user 24 h activity — never the user's
    full history — which is the property that keeps the frame buffer O(1)
    in stream length at 100 TB.

    Scale: one user_id shuffle; credit fan-out equals the true
    (purchase × in-horizon touch) fact count, which is the output's
    semantic size — nothing is amplified beyond it.

    Tie boundary: the RANGE frame ends at us−1, so a touch at the
    purchase's exact microsecond is NOT credited (the last-touch
    companion's ROWS frame may credit it — see its docstring)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ATTRIB_HORIZON_US, -1)
    )
    touch = "event_type IN ('click', 'view')"
    base = e.selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "unix_micros(ts) AS us",
        f"CASE WHEN {touch} THEN named_struct('t_ev', event_id, 't_ty', event_type) END AS t",
    )
    return (
        base.withColumn("tl", F.collect_list("t").over(w))
        .filter("event_type = 'purchase' AND size(tl) > 0")
        .selectExpr(
            "user_id",
            "event_id AS purchase_id",
            "us AS purchase_us",
            "size(tl) AS n_touches",
            "explode(tl) AS t",
        )
        .selectExpr(
            "user_id",
            "purchase_id",
            "purchase_us",
            "t.t_ev AS touch_id",
            "t.t_ty AS touch_type",
            "CAST(n_touches AS INT) AS n_touches",
            f"{mround('CAST(1 AS DOUBLE) / n_touches', 6)} AS credit",
        )
    )


EVENTS_MULTI_TOUCH_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN event_type IN ('click', 'view')
              THEN struct_pack(t_ev := event_id, t_ty := event_type) END AS t
  FROM events),
framed AS (
  SELECT user_id, event_id, event_type, us,
         list(t) FILTER (t IS NOT NULL) OVER (
           PARTITION BY user_id ORDER BY us
           RANGE BETWEEN {ATTRIB_HORIZON_US} PRECEDING AND 1 PRECEDING) AS tl
  FROM base),
purchases AS (
  SELECT user_id, event_id AS purchase_id, us AS purchase_us, tl
  FROM framed WHERE event_type = 'purchase' AND len(tl) > 0)
SELECT user_id, purchase_id, purchase_us,
       u.t.t_ev AS touch_id, u.t.t_ty AS touch_type,
       CAST(len(tl) AS INT) AS n_touches,
       {mround('CAST(1 AS DOUBLE) / len(tl)', 6)} AS credit
FROM purchases, unnest(tl) AS u(t)
"""


BASKET_MIN_SUP = 2  # minimum pair co-occurrence to report


def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order line items: for every
    part pair co-occurring in ≥ BASKET_MIN_SUP orders, the co-occurrence
    count, support, and lift (observed / expected-under-independence) —
    the classic recommendation/affinity primitive.

    Exactness: support and lift are single divisions of exact integer
    counts, mrounded.

    Scale: pairs are emitted IN-GROUP from each order's sorted distinct
    part set (no self-join) — fan-out is Σ basket²/2, bounded by the
    basket-size cap commerce data has by nature (~13 here), NEVER by part
    popularity; per-part order counts ride in as one broadcast aggregate.
    The (a, b) groupBy partial-aggregates; a hot pair is still one
    reducer key with a scalar state."""
    li = spread(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        spark,
        "l_orderkey",
    )
    # ONE basket aggregation feeds pairs, per-part counts, and the order
    # total: the three consumers share an identical subtree rooted at the
    # l_orderkey exchange, which AQE dedupes at runtime (post-execution
    # ReusedExchange, plan-asserted) — lineitem is scanned once, not 3x.
    baskets_all = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey)) AS parts"))
    )
    pairs = (
        baskets_all.filter(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(parts, a -> transform(parts, "
                    "b -> struct(a AS pa, b AS pb)))), p -> p.pa < p.pb)"
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("n_ab"))
    )
    part_counts = (
        baskets_all.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_p"))
    )
    n_orders = baskets_all.agg(F.count("*").alias("n_orders"))
    return (
        pairs.filter(F.col("n_ab") >= BASKET_MIN_SUP)
        .join(F.broadcast(part_counts.selectExpr("l_partkey AS pa", "n_p AS n_a")), "pa")
        .join(F.broadcast(part_counts.selectExpr("l_partkey AS pb", "n_p AS n_b")), "pb")
        .crossJoin(F.broadcast(n_orders))
        .selectExpr(
            "pa AS part_a",
            "pb AS part_b",
            "n_ab",
            f"{mround('CAST(n_ab AS DOUBLE) / n_orders', 6)} AS support",
            f"{mround('CAST(n_ab AS DOUBLE) * n_orders / (CAST(n_a AS DOUBLE) * n_b)', 6)} AS lift",
        )
    )


ORDERS_BASKET_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
pc AS (SELECT l_partkey, count(*) AS n_p FROM items GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items)
SELECT pa AS part_a, pb AS part_b, n_ab,
       {mround('CAST(n_ab AS DOUBLE) / n_orders', 6)} AS support,
       {mround('CAST(n_ab AS DOUBLE) * n_orders / (CAST(ca.n_p AS DOUBLE) * cb.n_p)', 6)} AS lift
FROM pairs, tot
JOIN pc ca ON ca.l_partkey = pa
JOIN pc cb ON cb.l_partkey = pb
WHERE n_ab >= {BASKET_MIN_SUP}
"""


def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini coefficient) per order priority — the
    inequality diagnostic behind "do 20% of orders carry 80% of revenue":
    G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n over values sorted ascending.

    Exactness: prices quantized to integer cents, ranks are a total order
    (value, orderkey), and Σ(i·xᵢ) is an int64 sum — the whole statistic
    is exact rational until two final divisions. Overflow bound: rank ×
    cents ≤ n·5e7 — int64-safe to ~10⁶ rows/group at this price range;
    DECIMAL(38,0) beyond (same plan).

    Scale: one rank window and one groupBy sharing the priority
    partitioning; output rows = group count."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("vc", "o_orderkey")
    ranked = o.selectExpr(
        "o_orderpriority", "o_orderkey", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc"
    ).withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("vc").alias("s"),
            F.sum(F.col("rk") * F.col("vc")).alias("rs"),
        )
        .selectExpr(
            "o_orderpriority",
            "n",
            "CAST(s AS DOUBLE) / 100 AS total_revenue",
            f"{mround('2 * CAST(rs AS DOUBLE) / (CAST(n AS DOUBLE) * s) - (CAST(n AS DOUBLE) + 1) / n', 6)} AS gini",
        )
    )


AGG_GINI_SQL = f"""
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
                                     o_orderkey) AS rk
  FROM orders)
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(vc) AS DOUBLE) / 100 AS total_revenue,
       {mround('2 * CAST(sum(rk * vc) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * sum(vc)) - (CAST(count(*) AS DOUBLE) + 1) / count(*)', 6)} AS gini
FROM ranked
GROUP BY o_orderpriority
"""


# Benford first-digit expectations log10(1 + 1/d), pre-rounded to 6 decimals
# so NO transcendental is ever evaluated by either engine.
_BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def agg_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed first-digit
    frequencies against the Benford expectation — the standard
    fabricated-data / ETL-corruption screen for financial columns. The
    expectations are pre-rounded constants (no log10 at query time), the
    first digit is exact string arithmetic on the integer part, and the
    frequency is one division of counts.

    Scale: 9-key groupBy, fully collapsed map-side."""
    o = load_table(spark, sf_dir, "orders")
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
    ) + " END"
    digits = o.selectExpr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT) AS digit"
    ).filter("digit BETWEEN 1 AND 9")
    grp = digits.groupBy("digit").agg(F.count("*").alias("n"))
    return (
        grp
        # total from the ≤9-row grouped table — never a second orders scan
        .crossJoin(F.broadcast(grp.agg(F.sum("n").alias("n_total"))))
        .selectExpr(
            "digit",
            "n",
            f"{mround('CAST(n AS DOUBLE) / n_total', 6)} AS observed",
            f"{exp_case} AS expected",
            f"{mround(f'abs(CAST(n AS DOUBLE) / n_total - ({exp_case}))', 6)} AS abs_dev",
        )
    )


def _benford_sql() -> str:
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
    ) + " END"
    return f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders),
valid AS (SELECT digit FROM digits WHERE digit BETWEEN 1 AND 9),
grp AS (SELECT digit, count(*) AS n FROM valid GROUP BY digit),
tot AS (SELECT count(*) AS n_total FROM valid)
SELECT digit, n,
       {mround('CAST(n AS DOUBLE) / n_total', 6)} AS observed,
       {exp_case} AS expected,
       {mround(f'abs(CAST(n AS DOUBLE) / n_total - ({exp_case}))', 6)} AS abs_dev
FROM grp, tot
"""


def diag_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out pre-flight: before self-joining the event stream on
    user_id (sessional pair analyses, co-visit mining), report each key's
    multiplicity, its pair fan-out n², and its share of the total join
    output — the diagnostic that catches the one viral key that would
    produce 10¹² rows BEFORE the join runs. Companion to `diag_key_skew`
    (which profiles shuffle balance; this profiles join output size).

    Exactness: counts and n² are integers; shares are one division,
    mrounded. Top-10 by fan-out with key tiebreak is a total order.

    Scale: one groupBy(user_id) + a 10-row TakeOrdered against a broadcast
    scalar total — never executes the risky join itself."""
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = per_key.agg(F.sum(F.col("n") * F.col("n")).alias("total_pairs"))
    return (
        per_key.crossJoin(F.broadcast(tot))
        .selectExpr(
            "user_id",
            "n AS multiplicity",
            "n * n AS pair_fanout",
            f"{mround('CAST(n AS DOUBLE) * n / total_pairs', 6)} AS fanout_share",
        )
        .orderBy(F.desc("pair_fanout"), F.asc("user_id"))
        .limit(10)
    )


DIAG_JOIN_EXPLOSION_SQL = f"""
WITH per_key AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
tot AS (SELECT sum(n * n) AS total_pairs FROM per_key)
SELECT user_id, n AS multiplicity, n * n AS pair_fanout,
       {mround('CAST(n AS DOUBLE) * n / total_pairs', 6)} AS fanout_share
FROM per_key, tot
ORDER BY pair_fanout DESC, user_id ASC
LIMIT 10
"""


DRIFT_SPLIT = "2024-01-16"  # period boundary (fixture spans 2024-01)
DRIFT_BUCKET_W = 50.0  # fixed-width value buckets (value ≤ ~560 → ≤ 12 buckets)


def diag_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: two-sample chi-square of the event-value
    distribution between the first and second half of the window — the
    feature-drift alarm every production scoring pipeline runs (PSI's
    log-free sibling; chi-square is exact rational, PSI's ln() is not —
    PARITY notes). Per value bucket: both periods' counts, expected counts
    under no-drift, and the bucket's chi-square contribution.

    Exactness: expectations are products/quotients of integer counts;
    contributions are two divisions, mrounded.

    Scale: one groupBy over (bucket) with conditional partial sums — a
    ≤12-key aggregate regardless of corpus size; totals ride back in one
    broadcast row."""
    e = load_table(spark, sf_dir, "events")
    base = e.selectExpr(
        f"CAST(least(floor(value / {DRIFT_BUCKET_W}), 11) AS INT) AS bucket",
        f"CASE WHEN CAST(ts AS DATE) < DATE'{DRIFT_SPLIT}' THEN 1 ELSE 0 END AS p1",
    )
    grp = base.groupBy("bucket").agg(
        F.sum("p1").alias("n1"),
        F.sum(F.expr("1 - p1")).alias("n2"),
    )
    tot = grp.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    e1 = "CAST(n1 + n2 AS DOUBLE) * t1 / (t1 + t2)"
    e2 = "CAST(n1 + n2 AS DOUBLE) * t2 / (t1 + t2)"
    contrib = f"(n1 - ({e1})) * (n1 - ({e1})) / ({e1}) + (n2 - ({e2})) * (n2 - ({e2})) / ({e2})"
    return grp.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        "n1",
        "n2",
        f"{mround(e1, 6)} AS exp1",
        f"{mround(e2, 6)} AS exp2",
        f"{mround(contrib, 6)} AS chi2_contrib",
    )


DIAG_DRIFT_SQL = f"""
WITH base AS (
  SELECT CAST(least(floor(value / {DRIFT_BUCKET_W}), 11) AS INT) AS bucket,
         CASE WHEN CAST(ts AS DATE) < DATE '{DRIFT_SPLIT}' THEN 1 ELSE 0 END AS p1
  FROM events),
grp AS (
  SELECT bucket, sum(p1) AS n1, sum(1 - p1) AS n2 FROM base GROUP BY bucket),
tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM grp)
SELECT bucket, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       {mround('CAST(n1 + n2 AS DOUBLE) * t1 / (t1 + t2)', 6)} AS exp1,
       {mround('CAST(n1 + n2 AS DOUBLE) * t2 / (t1 + t2)', 6)} AS exp2,
       {mround('(n1 - (CAST(n1 + n2 AS DOUBLE) * t1 / (t1 + t2))) * (n1 - (CAST(n1 + n2 AS DOUBLE) * t1 / (t1 + t2))) / (CAST(n1 + n2 AS DOUBLE) * t1 / (t1 + t2)) + (n2 - (CAST(n1 + n2 AS DOUBLE) * t2 / (t1 + t2))) * (n2 - (CAST(n1 + n2 AS DOUBLE) * t2 / (t1 + t2))) / (CAST(n1 + n2 AS DOUBLE) * t2 / (t1 + t2))', 6)} AS chi2_contrib
FROM grp, tot
"""


SURVIVAL_MAX_DAY = 29  # observation window (fixture spans one month)


def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve: for each day offset k, the fraction
    of users whose activity span (last seen − first seen) reaches k days
    — the retention/churn curve in its simplest uncensored form (every
    user is observed over the same window, so this is the empirical
    survival function, Kaplan-Meier without censoring corrections).

    Exactness: spans are integer day diffs; each survival point is one
    division of integer counts.

    Scale: one groupBy(user_id) reduces the stream to one row per user;
    the curve is a 30-row grid joined against the ≤31-row span histogram
    — constant-size work above the user reduction."""
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.expr("datediff(max(CAST(ts AS DATE)), min(CAST(ts AS DATE)))").alias("span")
    )
    hist = spans.groupBy("span").agg(F.count("*").alias("n"))
    tot = hist.agg(F.sum("n").alias("n_users"))
    grid = spark.range(SURVIVAL_MAX_DAY + 1).selectExpr("CAST(id AS INT) AS k")
    return (
        grid.crossJoin(F.broadcast(hist))
        .filter("span >= k")
        .groupBy("k")
        .agg(F.sum("n").alias("n_surviving"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "k",
            "CAST(n_surviving AS BIGINT) AS n_surviving",
            "n_users",
            f"{mround('CAST(n_surviving AS DOUBLE) / n_users', 6)} AS survival",
        )
    )


EVENTS_SURVIVAL_SQL = f"""
WITH spans AS (
  SELECT user_id,
         date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS span
  FROM events GROUP BY user_id),
hist AS (SELECT span, count(*) AS n FROM spans GROUP BY span),
tot AS (SELECT sum(n) AS n_users FROM hist),
grid AS (SELECT CAST(unnest(range(0, {SURVIVAL_MAX_DAY + 1})) AS INT) AS k)
SELECT k, CAST(sum(n) AS BIGINT) AS n_surviving,
       CAST(n_users AS BIGINT) AS n_users,
       {mround('CAST(sum(n) AS DOUBLE) / n_users', 6)} AS survival
FROM grid JOIN hist ON span >= k, tot
GROUP BY k, n_users
"""


QUERIES: dict[str, QuerySpec] = {
    "events_survival_curve": QuerySpec(
        events_survival_curve, EVENTS_SURVIVAL_SQL, "time-window"
    ),
    "diag_distribution_drift": QuerySpec(
        diag_distribution_drift, DIAG_DRIFT_SQL, "aggregation"
    ),
    "diag_join_explosion": QuerySpec(
        diag_join_explosion, DIAG_JOIN_EXPLOSION_SQL, "aggregation"
    ),
    "orders_market_basket": QuerySpec(orders_market_basket, ORDERS_BASKET_SQL, "aggregation"),
    "agg_gini_concentration": QuerySpec(
        agg_gini_concentration, AGG_GINI_SQL, "aggregation"
    ),
    "agg_benford_profile": QuerySpec(agg_benford_profile, _benford_sql(), "aggregation"),
    "events_attribution_multi_touch": QuerySpec(
        events_attribution_multi_touch, EVENTS_MULTI_TOUCH_SQL, "time-window"
    ),
    "events_attribution_last_touch": QuerySpec(
        events_attribution_last_touch, EVENTS_ATTRIB_SQL, "time-window"
    ),
    "events_cohort_ltv": QuerySpec(events_cohort_ltv, EVENTS_COHORT_LTV_SQL, "time-window"),
    "events_markov_transitions": QuerySpec(
        events_markov_transitions, EVENTS_MARKOV_SQL, "time-window"
    ),
    "events_rfm_segments": QuerySpec(events_rfm_segments, EVENTS_RFM_SQL, "time-window"),
    "events_ohlc_hourly": QuerySpec(events_ohlc_hourly, EVENTS_OHLC_SQL, "time-window"),
    "reshape_unpivot": QuerySpec(reshape_unpivot, RESHAPE_UNPIVOT_SQL, "reshape"),
    "scalar_struct": QuerySpec(scalar_struct, SCALAR_STRUCT_SQL, "scalar"),
    "scalar_bitwise": QuerySpec(scalar_bitwise, SCALAR_BITWISE_SQL, "scalar"),
    "agg_string_agg": QuerySpec(agg_string_agg, AGG_STRING_AGG_SQL, "aggregation"),
    "events_pattern_burst": QuerySpec(events_pattern_burst, EVENTS_PATTERN_BURST_SQL, "time-window"),
    "scalar_url_parse": QuerySpec(scalar_url_parse, SCALAR_URL_SQL, "scalar"),
    "agg_mode": QuerySpec(agg_mode, AGG_MODE_SQL, "aggregation"),
    "agg_histogram": QuerySpec(agg_histogram, AGG_HISTOGRAM_SQL, "aggregation"),
    "events_funnel": QuerySpec(events_funnel, EVENTS_FUNNEL_SQL, "time-window"),
    "events_retention": QuerySpec(events_retention, EVENTS_RETENTION_SQL, "time-window"),
    "events_gapfill_ffill": QuerySpec(events_gapfill_ffill, EVENTS_GAPFILL_SQL, "time-window"),
    "events_time_rollup": QuerySpec(events_time_rollup, EVENTS_TIME_ROLLUP_SQL, "time-window"),
    "scalar_posexplode": QuerySpec(scalar_posexplode, SCALAR_POSEXPLODE_SQL, "scalar"),
    "scalar_regex": QuerySpec(scalar_regex, SCALAR_REGEX_SQL, "scalar"),
    "scalar_try_functions": QuerySpec(scalar_try_functions, SCALAR_TRY_SQL, "scalar"),
    "join_null_safe": QuerySpec(join_null_safe, JOIN_NULL_SAFE_SQL, "join"),
    "agg_percentile_disc": QuerySpec(agg_percentile_disc, AGG_PERCENTILE_DISC_SQL, "aggregation"),
    "events_anomaly_mad": QuerySpec(events_anomaly_mad, EVENTS_ANOMALY_MAD_SQL, "aggregation"),
    "sample_weighted_bernoulli": QuerySpec(sample_weighted_bernoulli, SAMPLE_WEIGHTED_SQL, "pipeline"),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_SQL, "aggregation"),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_SQL, "join+topk"),
    "q5_local_supplier_volume": QuerySpec(q5_local_supplier_volume, Q5_SQL, "join"),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_SQL, "filter+agg"),
    "filter_project": QuerySpec(filter_project, FILTER_PROJECT_SQL, "projection"),
    "join_broadcast_dim": QuerySpec(join_broadcast_dim, JOIN_BROADCAST_SQL, "join"),
    "join_left_outer": QuerySpec(join_left_outer, JOIN_LEFT_SQL, "join"),
    "join_semi": QuerySpec(join_semi, JOIN_SEMI_SQL, "join"),
    "join_anti": QuerySpec(join_anti, JOIN_ANTI_SQL, "join"),
    "join_full_outer": QuerySpec(join_full_outer, JOIN_FULL_SQL, "join"),
    "join_range_theta": QuerySpec(join_range_theta, JOIN_RANGE_SQL, "join"),
    "agg_distinct": QuerySpec(agg_distinct, AGG_DISTINCT_SQL, "aggregation"),
    "agg_rollup": QuerySpec(agg_rollup, AGG_ROLLUP_SQL, "aggregation"),
    "agg_cube": QuerySpec(agg_cube, AGG_CUBE_SQL, "aggregation"),
    "agg_conditional": QuerySpec(agg_conditional, AGG_CONDITIONAL_SQL, "aggregation"),
    "agg_stats": QuerySpec(agg_stats, AGG_STATS_SQL, "aggregation"),
    "topk_orders": QuerySpec(topk_orders, TOPK_SQL, "sort/limit"),
    "scalar_string": QuerySpec(scalar_string, SCALAR_STRING_SQL, "scalar"),
    "scalar_date": QuerySpec(scalar_date, SCALAR_DATE_SQL, "scalar"),
    "scalar_math": QuerySpec(scalar_math, SCALAR_MATH_SQL, "scalar"),
    "scalar_json": QuerySpec(scalar_json, SCALAR_JSON_SQL, "scalar"),
    "events_tumbling_10min": QuerySpec(events_tumbling_10min, EVENTS_TUMBLING_SQL, "time-window"),
    "agg_grouping_sets": QuerySpec(agg_grouping_sets, AGG_GROUPING_SETS_SQL, "aggregation"),
    "scalar_array_map": QuerySpec(scalar_array_map, SCALAR_ARRAY_MAP_SQL, "scalar"),
    "agg_decimal_exact": QuerySpec(agg_decimal_exact, AGG_DECIMAL_SQL, "aggregation"),
    "scalar_date_trunc": QuerySpec(scalar_date_trunc, SCALAR_DATE_TRUNC_SQL, "scalar"),
    "scalar_null_semantics": QuerySpec(scalar_null_semantics, SCALAR_NULL_SQL, "scalar"),
    "events_sliding_10x5": QuerySpec(events_sliding_10x5, EVENTS_SLIDING_SQL, "time-window"),
    "events_sessions": QuerySpec(events_sessions, EVENTS_SESSIONS_SQL, "time-window"),
    "events_sessionize_islands": QuerySpec(
        events_sessionize_islands, EVENTS_SESSIONIZE_ISLANDS_SQL, "time-window"
    ),
    "agg_covar_regr": QuerySpec(agg_covar_regr, AGG_COVAR_REGR_SQL, "aggregation"),
    "agg_bool_bitwise": QuerySpec(agg_bool_bitwise, AGG_BOOL_BITWISE_SQL, "aggregation"),
    "agg_max_min_by": QuerySpec(agg_max_min_by, AGG_MAX_MIN_BY_SQL, "aggregation"),
    "join_existence_flag": QuerySpec(
        join_existence_flag, JOIN_EXISTENCE_FLAG_SQL, "join"
    ),
    "diag_key_skew": QuerySpec(diag_key_skew, DIAG_KEY_SKEW_SQL, "aggregation"),
    "diag_column_ndv": QuerySpec(diag_column_ndv, DIAG_COLUMN_NDV_SQL, "aggregation"),
    "agg_weighted_median": QuerySpec(
        agg_weighted_median, AGG_WEIGHTED_MEDIAN_SQL, "aggregation"
    ),
}


# --- Directed association rules over the market-basket substrate -----------


ASSOC_MIN_CONF_PCT = 5  # report rules with confidence >= 0.05


def orders_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules (antecedent -> consequent) over order
    baskets: for every part pair co-occurring in >= BASKET_MIN_SUP orders,
    BOTH directed rules with confidence P(conseq | ante) = n_ab/n_ante,
    lift = n_ab*n_orders/(n_a*n_b) (direction-symmetric), and conviction
    (1 - P(conseq)) / (1 - confidence) — the recommendation-rule triple on
    top of the undirected affinity view `orders_market_basket`.

    Exactness: every statistic is a fixed-order division of exact int64
    counts, mrounded; conviction NULLs out at confidence = 1 via NULLIF
    (identical semantics both engines).

    Scale: identical substrate to `orders_market_basket` — pairs emitted
    IN-GROUP from each order's sorted distinct part set (fan-out bounded
    by basket size, never part popularity), per-part counts and the order
    total ride in as broadcasts; the direction flip is a 2x explode of the
    already-reduced pair table, not of data. The confidence filter prunes
    on exact integers (100*n_ab >= pct*n_ante), so no float boundary
    enters admission."""
    li = spread(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        spark,
        "l_orderkey",
    )
    baskets_all = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey)) AS parts"))
    )
    pairs = (
        baskets_all.filter(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(parts, a -> transform(parts, "
                    "b -> struct(a AS pa, b AS pb)))), p -> p.pa < p.pb)"
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUP)
    )
    part_counts = (
        baskets_all.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_p"))
    )
    n_orders = baskets_all.agg(F.count("*").alias("n_orders"))
    rules = pairs.select(
        F.explode(
            F.expr(
                "array(struct(pa AS ante, pb AS conseq, n_ab AS n_ab), "
                "struct(pb AS ante, pa AS conseq, n_ab AS n_ab))"
            )
        ).alias("r")
    ).select("r.ante", "r.conseq", "r.n_ab")
    conf = "CAST(n_ab AS DOUBLE) / n_ante"
    lift = "CAST(n_ab AS DOUBLE) * n_orders / (CAST(n_ante AS DOUBLE) * n_conseq)"
    conv = (
        "(1 - CAST(n_conseq AS DOUBLE) / n_orders)"
        f" / NULLIF(1 - ({conf}), 0)"
    )
    return (
        rules.join(
            F.broadcast(part_counts.selectExpr("l_partkey AS ante", "n_p AS n_ante")),
            "ante",
        )
        .join(
            F.broadcast(
                part_counts.selectExpr("l_partkey AS conseq", "n_p AS n_conseq")
            ),
            "conseq",
        )
        .crossJoin(F.broadcast(n_orders))
        .filter(F.expr(f"100 * n_ab >= {ASSOC_MIN_CONF_PCT} * n_ante"))
        .selectExpr(
            "ante",
            "conseq",
            "n_ab",
            "n_ante",
            "n_conseq",
            f"{mround(conf, 6)} AS confidence",
            f"{mround(lift, 6)} AS lift",
            f"{mround(conv, 6)} AS conviction",
        )
    )


ORDERS_ASSOC_RULES_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUP}),
rules AS (
  SELECT pa AS ante, pb AS conseq, n_ab FROM pairs
  UNION ALL
  SELECT pb AS ante, pa AS conseq, n_ab FROM pairs),
pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p FROM items GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items)
SELECT ante, conseq, n_ab, ca.n_p AS n_ante, cb.n_p AS n_conseq,
       {mround('CAST(n_ab AS DOUBLE) / ca.n_p', 6)} AS confidence,
       {mround('CAST(n_ab AS DOUBLE) * n_orders / (CAST(ca.n_p AS DOUBLE) * cb.n_p)', 6)} AS lift,
       {mround('(1 - CAST(cb.n_p AS DOUBLE) / n_orders) / NULLIF(1 - (CAST(n_ab AS DOUBLE) / ca.n_p), 0)', 6)} AS conviction
FROM rules, tot
JOIN pc ca ON ca.l_partkey = ante
JOIN pc cb ON cb.l_partkey = conseq
WHERE 100 * n_ab >= {ASSOC_MIN_CONF_PCT} * ca.n_p
"""


QUERIES["orders_assoc_rules"] = QuerySpec(
    orders_assoc_rules, ORDERS_ASSOC_RULES_SQL, "aggregation"
)


# ---------------------------------------------------------------------------
# VARIANT semi-structured type (Spark 4): parse/extract/introspect round-trip
# ---------------------------------------------------------------------------

def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT end-to-end: per event, a semi-structured document is
    built from typed columns (ints, an array, a string), parsed into the
    binary VARIANT type, and consumed ONLY through the variant surface —
    typed-path extraction (`variant_get` incl. array indexing), safe
    extraction under a type mismatch (`try_variant_get` -> NULL, counted),
    and plan-time-free schema introspection (`schema_of_variant`). The
    oracle recomputes every extracted value directly from the base columns,
    so the whole construct->parse->extract round-trip must be lossless.

    VARIANT is the lakehouse answer to stringly-typed JSON columns: binary
    encoding, typed access without a schema declaration — `scalar_json`
    covers the classic get_json_object path; this entry covers the type.

    Exactness: everything extracted is integers/strings; the k field is
    coalesced before construction so the variant schema is constant and
    to_json's drop-null-fields default can't fork row schemas.

    Scale: pure per-row expressions + one partial-aggregated groupBy on
    the 5-value tag; schema introspection runs on ONE row (it is a
    dataset-level fact under the coalesced construction) and broadcasts —
    never a per-row schema string through the aggregate."""
    # prune BEFORE construct: only the three source columns the variant
    # needs reach the json round-trip (and the scan — plan-test-asserted),
    # so the per-row construct cost is paid on the narrowest possible rows
    e = load_table(spark, sf_dir, "events").select("props", "user_id", "event_type")
    _V_EXPR = (
        "parse_json(to_json(named_struct("
        " 'k', coalesce(CAST(get_json_object(props, '$.k') AS BIGINT), -1),"
        " 'ids', array(user_id % 7, user_id % 11),"
        " 'tag', event_type))) AS v"
    )
    # spread: the json/variant expression stack is interpreted (no codegen
    # for VARIANT) and the single-row-group scan otherwise runs all of it
    # on one core (r11 scan-fan-out lesson)
    v = spread(e, spark).selectExpr(_V_EXPR)
    agg = (
        v.selectExpr(
            "variant_get(v, '$.tag', 'string') AS tag",
            "variant_get(v, '$.k', 'bigint') AS k",
            "variant_get(v, '$.ids[1]', 'bigint') AS id1",
            "CASE WHEN try_variant_get(v, '$.tag', 'bigint') IS NULL"
            " THEN 1 ELSE 0 END AS bad_cast",
        )
        .groupBy("tag")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.sum("id1").cast("bigint").alias("sum_id1"),
            F.sum("bad_cast").cast("bigint").alias("n_bad_casts"),
        )
    )
    # schema introspection is a per-DATASET fact under the coalesced
    # construction (every row carries the same variant shape) — run it on
    # ONE row and broadcast, instead of stringifying the schema per row
    # and min-folding it through a SortAggregate. Built from the UNSPREAD
    # scan with limit BEFORE construct, so this branch reads one row group
    # and parses one document (a limit above the repartition would pull
    # every row through the exchange first).
    sch = e.limit(1).selectExpr(_V_EXPR).selectExpr(
        "schema_of_variant(v) AS variant_schema"
    )
    return agg.crossJoin(F.broadcast(sch))


SCALAR_VARIANT_SQL = """
SELECT event_type AS tag,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), -1))
            AS BIGINT) AS sum_k,
       CAST(sum(user_id % 11) AS BIGINT) AS sum_id1,
       CAST(count(*) AS BIGINT) AS n_bad_casts,
       -- Spark-version pin (r06 advice): this literal is Spark 4.1's
       -- schema_of_variant rendering for the constant variant shape built
       -- above. tests/test_round6f_ops.py::test_variant_roundtrip_and_
       -- introspection asserts Spark's LIVE schema_of_variant output equals
       -- this same string, so a Spark upgrade that changes the rendering
       -- fails that test loudly (engine fine, literal stale) instead of
       -- silently hash-mismatching the driver parity gate.
       'OBJECT<ids: ARRAY<BIGINT>, k: BIGINT, tag: STRING>' AS variant_schema
FROM events
GROUP BY event_type
"""


QUERIES["scalar_variant"] = QuerySpec(scalar_variant, SCALAR_VARIANT_SQL, "scalar")
