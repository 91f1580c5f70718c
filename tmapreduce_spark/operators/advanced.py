"""Advanced relational operators: as-of join, pivot, exact percentiles,
correlated/EXISTS subqueries, HAVING, disjunctive-predicate scans, and
additional TPC-H-shaped queries (promo share, large orders, supplier stats).

All absent in the reference (surface = ``/root/reference/src/tmapreduce/
mrf.h:9-11``); category list from SURVEY §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tmapreduce_spark.catalog import QuerySpec
from tmapreduce_spark.parity import DUCK, SPARK, cents, mavg, mround, msum2
from tmapreduce_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# As-of join: for each purchase event, the user's most recent prior view
# ---------------------------------------------------------------------------

def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (most-recent-prior) join between two event streams of the same
    user: purchase rows pick up the latest 'view' row with view.ts <= p.ts.

    Spark has no native as-of join; the scalable formulation is the
    union-and-window trick: tag both sides, sort by (user, ts) within one
    shuffle, and carry the last view forward with last_value(ignoreNulls)
    — O(n log n) in one partition pass, no range join explosion. Ties on ts
    are broken by event_id so both engines agree deterministically."""
    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("ts"),
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
        F.lit(0).alias("is_purchase"),
        F.lit(None).cast("bigint").alias("purchase_event_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ts"),
        F.lit(None).cast("bigint").alias("view_event_id"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(1).alias("is_purchase"),
        F.col("event_id").alias("purchase_event_id"),
    )
    unioned = views.unionByName(purchases)
    # views sort before purchases at identical ts (is_purchase 0 < 1), so a
    # same-instant view IS visible to the purchase — the <= contract.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("is_purchase"), F.asc("view_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "user_id",
        "ts",
        "is_purchase",
        "purchase_event_id",
        F.last("view_event_id", ignorenulls=True).over(w).alias("matched_view_id"),
        F.last("view_value", ignorenulls=True).over(w).alias("matched_view_value"),
    )
    return (
        carried.filter(F.col("is_purchase") == 1)
        .select(
            F.col("purchase_event_id").alias("event_id"),
            "user_id",
            F.coalesce("matched_view_id", F.lit(-1)).alias("prior_view_id"),
            F.expr(mround("coalesce(matched_view_value, -1.0)", 2)).alias("prior_view_value"),
        )
    )


JOIN_ASOF_SQL = f"""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
matched AS (
  SELECT p.event_id, p.user_id, v.event_id AS view_id, v.value AS view_value,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM p JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
SELECT p.event_id, p.user_id,
       COALESCE(m.view_id, -1) AS prior_view_id,
       {mround("COALESCE(m.view_value, -1.0)", 2)} AS prior_view_value
FROM p LEFT JOIN (SELECT * FROM matched WHERE rn = 1) m ON p.event_id = m.event_id
"""


# ---------------------------------------------------------------------------
# Pivot (wide aggregation) over order status x priority
# ---------------------------------------------------------------------------

def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot(): order counts per status, one column per priority
    class. Pivot values are enumerated explicitly — at scale never let Spark
    run the extra distinct-scan to discover them."""
    o = load_table(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    df = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"n_p{i + 1}" for i, p in enumerate(prios)}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df.select(
        "o_orderstatus",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    )


PIVOT_SQL = """
SELECT o_orderstatus,
       count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_p1,
       count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS n_p2,
       count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS n_p3,
       count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS n_p4,
       count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_p5
FROM orders
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based; both engines linear-interpolate)
# ---------------------------------------------------------------------------

def percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90/p99 of l_extendedprice per return flag —
    DISTRIBUTED: Spark's builtin `percentile()` aggregate collects every
    group's values into one task's memory (an ObjectHashAggregate that was
    both this catalog's slowest entry at sf0.1 AND the shape that OOMs a
    3-group/100TB rollup). Instead the order statistics come from a
    two-level CDF (the `agg_weighted_median` sweep): per-(flag, price)
    counts, price-range-bucketed cumulative ranks with broadcast bucket
    offsets, then each target rank k = floor(p·(n−1)) and k+1 is located by
    an integer rank-interval predicate and linearly interpolated with the
    SAME textbook IEEE expression the builtin uses (lo + (hi−lo)·frac), so
    results match `percentile()` bit-for-bit on the money grid and the
    DuckDB quantile_cont oracle at mround(4) exactly as before.

    Scale: one partial-agg groupBy onto (flag, price) — collapses the fact
    table to its distinct-price CDF — one bucketed window over that
    aggregate, a 9-row broadcast rank table, and a 3-fanout broadcast hash
    join; no task ever materializes a group's raw values."""
    l = load_table(spark, sf_dir, "lineitem")
    rows = l.selectExpr(
        "l_returnflag",
        "l_extendedprice",
        f"{cents('l_extendedprice', 100)} DIV 262144 AS pb",
    )
    cnts = rows.groupBy("l_returnflag", "pb", "l_extendedprice").agg(
        F.count("*").alias("cnt")
    )
    wb = (
        Window.partitionBy("l_returnflag", "pb")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("pb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        cnts.groupBy("l_returnflag", "pb")
        .agg(F.sum("cnt").alias("bucket_n"))
        .select(
            "l_returnflag",
            "pb",
            F.coalesce(F.sum("bucket_n").over(wo), F.lit(0)).alias("off_n"),
        )
    )
    cdf = (
        cnts.withColumn("in_end", F.sum("cnt").over(wb))
        .join(F.broadcast(offsets), ["l_returnflag", "pb"])
        .selectExpr(
            "l_returnflag",
            "l_extendedprice AS v",
            "off_n + in_end - cnt AS lo_rank",  # 0-based ranks [lo_rank, hi_rank)
            "off_n + in_end AS hi_rank",
        )
    )
    # 9-row rank table: per (flag, p) the straddling indices + the builtin's
    # own interpolation fraction (h = p*(n-1) in DOUBLE, frac = h - floor(h)).
    # n comes from a direct partial-agg count over the base rows — NOT from
    # the cdf — so building the broadcast never executes the window pipeline
    ranks = (
        rows.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .selectExpr("l_returnflag AS rf", "n", "explode(array(0.5D, 0.9D, 0.99D)) AS p")
        .selectExpr(
            "rf",
            "p",
            "p * CAST(n - 1 AS DOUBLE) AS h",
            "CAST(floor(p * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS k_lo",
            "least(CAST(floor(p * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1, n - 1) AS k_hi",
        )
        .selectExpr("rf", "p", "k_lo", "k_hi", "h - CAST(k_lo AS DOUBLE) AS frac")
    )
    hit = cdf.join(
        F.broadcast(ranks),
        (F.col("l_returnflag") == F.col("rf"))
        & (
            ((F.col("k_lo") >= F.col("lo_rank")) & (F.col("k_lo") < F.col("hi_rank")))
            | ((F.col("k_hi") >= F.col("lo_rank")) & (F.col("k_hi") < F.col("hi_rank")))
        ),
    )
    interp = (
        hit.groupBy("l_returnflag", "p", "frac")
        .agg(
            F.max(
                F.expr("CASE WHEN k_lo >= lo_rank AND k_lo < hi_rank THEN v END")
            ).alias("v_lo"),
            F.max(
                F.expr("CASE WHEN k_hi >= lo_rank AND k_hi < hi_rank THEN v END")
            ).alias("v_hi"),
        )
        .selectExpr("l_returnflag", "p", "v_lo + (v_hi - v_lo) * frac AS q")
    )
    return interp.groupBy("l_returnflag").agg(
        F.expr(mround("max(CASE WHEN p = 0.5D THEN q END)", 4)).alias("p50"),
        F.expr(mround("max(CASE WHEN p = 0.9D THEN q END)", 4)).alias("p90"),
        F.expr(mround("max(CASE WHEN p = 0.99D THEN q END)", 4)).alias("p99"),
    )


PERCENTILES_SQL = f"""
SELECT l_returnflag,
       {mround("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
       {mround("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90,
       {mround("quantile_cont(l_extendedprice, 0.99)", 4)} AS p99
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Correlated / EXISTS subqueries
# ---------------------------------------------------------------------------

def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose balance exceeds their nation's average (correlated
    scalar subquery, decorrelated into a join against the per-nation agg)."""
    c = load_table(spark, sf_dir, "customer")
    nation_avg = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.expr(mavg("c_acctbal", 6)).alias("nation_avg")
    )
    return (
        c.join(F.broadcast(nation_avg), F.col("c_nationkey") == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", F.col("c_acctbal").alias("acctbal"))
    )


SUBQUERY_ABOVE_AVG_SQL = f"""
SELECT c_custkey, c_nationkey, c_acctbal AS acctbal
FROM customer c
WHERE c_acctbal > (SELECT {mavg("c_acctbal", 6)}
                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
"""


def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in nations that have at least one customer with negative
    balance (EXISTS → left_semi)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    neg_nations = c.filter(F.col("c_acctbal") < 0).select(
        F.col("c_nationkey").alias("nk")
    )
    return (
        s.join(neg_nations, F.col("s_nationkey") == F.col("nk"), "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
    )


SUBQUERY_EXISTS_SQL = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier s
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < 0)
"""


# ---------------------------------------------------------------------------
# HAVING / promo share / supplier-part stats (TPC-H Q18/Q14/Q16 shapes)
# ---------------------------------------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 150 (groupBy + HAVING + join back)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.expr(msum2("l_quantity", SPARK)).alias("total_qty"))
        .filter(F.col("total_qty") > 150.0)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.expr(mround("o_totalprice", 2)).alias("total_price"),
            "total_qty",
        )
    )


Q18_SQL = f"""
SELECT o_orderkey, o_custkey, {mround("o_totalprice", 2)} AS total_price, total_qty
FROM (SELECT l_orderkey, {msum2("l_quantity", DUCK)} AS total_qty
      FROM lineitem GROUP BY l_orderkey) t
JOIN orders ON l_orderkey = o_orderkey
WHERE total_qty > 150.0
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of 1997 revenue from PROMO-type parts (conditional agg over a
    broadcast dim join). The ratio divides two exact integer-cent sums, so it
    is order-independent and oracle-exact."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    promo_cents = (
        "sum(CASE WHEN p_type = 'PROMO' THEN"
        " CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT)"
        " ELSE 0 END)"
    )
    total_cents = (
        "sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT))"
    )
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.expr(
                mround(f"100.0 * CAST({promo_cents} AS DOUBLE) / CAST({total_cents} AS DOUBLE)", 6)
            ).alias("promo_share_pct")
        )
    )


Q14_SQL = f"""
SELECT {mround(
    "100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN"
    " CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT)"
    " ELSE 0 END) AS DOUBLE)"
    " / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)",
    6,
)} AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
"""


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type, size) — Q16 shape without
    the exclusion list."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .filter(F.col("supplier_cnt") >= 4)
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type, p_size
HAVING count(DISTINCT l_suppkey) >= 4
"""


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-attribute predicates (Q19 shape): OR of three
    brand/size/quantity bands — exercises predicate normalization; at the scan
    level the common l_partkey join survives, the OR evaluates post-join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 30))
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.expr(msum2("l_extendedprice * (1 - l_discount)", SPARK)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


Q19_SQL = f"""
SELECT {msum2("l_extendedprice * (1 - l_discount)", DUCK)} AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 30)
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue lost to returns (Q10 shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(msum2("l_extendedprice * (1 - l_discount)", SPARK)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {msum2("l_extendedprice * (1 - l_discount)", DUCK)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def join_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string join: part pairs within a brand whose names differ
    but are within Levenshtein distance 2 — the entity-resolution join shape.
    The brand is the blocking key: the self-join is an EQUI-join on p_brand
    with the edit-distance predicate applied post-match, so the quadratic term
    is bounded per block (at 100 TB block on a cheap canopy key — brand,
    length bucket, first-k chars, or an n-gram LSH bucket — never all-pairs).
    Spark and DuckDB both implement classic Levenshtein, so distances agree
    exactly.

    Three measured perf levers (13 s -> 3 s at sf0.1 on local[32]):
    the length band |len(a)-len(b)| <= 2 rides in the join condition (distance
    <= 2 implies it, so results are unchanged — it just prunes verification
    calls); verification uses the BOUNDED levenshtein(l, r, threshold) which
    abandons early (returns -1 past the threshold) instead of filling the full
    DP matrix; and the probe side is repartitioned first — the dim-sized self
    join broadcasts one side, so WITHOUT that the whole quadratic verification
    runs inside the scan's single input partition."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name", F.length("p_name").alias("ln")
    )
    # Scale-adaptive probe spread (r13, the jaro-winkler precedent): the
    # broadcast self-join runs the quadratic verification inside the scan's
    # partitions, so the probe side must be spread to the CLUSTER's width,
    # not a hard-coded local core count. Keyless repartition is deliberate —
    # AQE sizes by bytes and cannot see the per-row levenshtein cost
    # (removing the repartition outright was 1.6x slower in the jaro-winkler
    # A/B; same shape here).
    a = p.repartition(spark.sparkContext.defaultParallelism).alias("a")
    b = p.alias("b")
    lv = F.levenshtein("a.p_name", "b.p_name", 2)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= F.lit(2)),
        )
        .filter((F.col("a.p_name") != F.col("b.p_name")) & (lv >= 0))
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lv.cast("bigint").alias("edit_dist"),
        )
    )


JOIN_FUZZY_SQL = """
SELECT a.p_brand AS brand, a.p_partkey AS part_a, b.p_partkey AS part_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE a.p_name <> b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
"""


def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (SQL front door): each customer's top-2
    orders by price via a per-row correlated subquery with ORDER BY + LIMIT.
    Catalyst decorrelates this into the grouped-top-n window shape — the
    SQL-standard spelling of `window_rank_topn`, NOT a per-row nested loop.
    DuckDB runs the identical text."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    return spark.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM _lat_customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM _lat_orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    """)


JOIN_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


def join_fuzzy_symdel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME fuzzy join computed the way it scales past brand blocking:
    SymSpell-style deletion-neighborhood candidates. If lev(a, b) <= 2 then
    some string is reachable from BOTH names by <= 2 character deletions (an
    optimal edit script keeps a common core: a loses subs+dels <= 2 chars, b
    loses subs+ins <= 2), so joining deletion variants is a LOSSLESS canopy —
    verification only ever prunes.

    Plan: distinct (brand, name) first — duplicate names would make every
    shared variant a hot key, and identical-name pairs are excluded by the
    predicate anyway — then explode each distinct name's <=2-deletion
    neighborhood (expression-only, no Python), self-join on (brand, variant),
    distinct name pairs, verify with bounded levenshtein, and expand back to
    part-key pairs. Candidate volume is O(names x len^2) INDEPENDENT of block
    sizes — the shape that survives when no small blocking key exists.
    Shares `join_fuzzy_name`'s oracle verbatim: both strategies must produce
    identical rows."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    names = p.select("p_brand", "p_name").distinct()
    # del0 ∪ del1 ∪ del2, deduped before the explode; del1 is materialized as
    # a column so the O(len) substring loop runs once per name, not twice
    # (lambda HOFs get no common-subexpression elimination)
    variants = names.withColumn(
        "del1",
        F.expr(
            "transform(sequence(1, length(p_name)), "
            "i -> concat(substring(p_name, 1, i - 1), substring(p_name, i + 1)))"
        ),
    ).selectExpr(
        "p_brand",
        "p_name",
        """explode(array_distinct(concat(
             array(p_name),
             del1,
             flatten(transform(del1,
               v -> transform(sequence(1, length(v)),
                              j -> concat(substring(v, 1, j - 1), substring(v, j + 1)))))
           ))) AS variant""",
    )
    a, b = variants.alias("a"), variants.alias("b")
    name_pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_name").alias("name_x"),
            F.col("b.p_name").alias("name_y"),
        )
        .distinct()
    )
    verified = (
        name_pairs.withColumn("edit_dist", F.levenshtein("name_x", "name_y", 2))
        .filter(F.col("edit_dist") >= 0)
    )
    pa = p.selectExpr("p_brand AS brand", "p_partkey AS key_x", "p_name AS name_x")
    pb = p.selectExpr("p_brand AS brand", "p_partkey AS key_y", "p_name AS name_y")
    pairs = verified.join(pa, ["brand", "name_x"]).join(pb, ["brand", "name_y"])
    # name-pair orientation was (name_x < name_y); re-orient by part key so
    # the output contract (part_a < part_b) matches join_fuzzy_name exactly
    return pairs.selectExpr(
        "brand",
        "least(key_x, key_y) AS part_a",
        "greatest(key_x, key_y) AS part_b",
        "CASE WHEN key_x < key_y THEN name_x ELSE name_y END AS name_a",
        "CASE WHEN key_x < key_y THEN name_y ELSE name_x END AS name_b",
        "CAST(edit_dist AS BIGINT) AS edit_dist",
    )


# ---------------------------------------------------------------------------
# Interval (time-range) join: clicks falling inside per-user error windows
# ---------------------------------------------------------------------------

_IV_LEN_US = 1_800_000_000  # 30-minute intervals, µs


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join — each error event opens a 30-minute window
    [ts, ts+30min] for its user; count the user's click events (and their
    value sum) falling inside each window.

    Naive formulation is an equi-join on user_id with the range predicate
    applied AFTER the join — per-user fan-out is errors×clicks, quadratic on
    hot users. The scalable formulation (Flink/KDB interval-join style, no
    native Spark operator): quantize time into buckets exactly as wide as the
    interval, so every interval overlaps ≤2 buckets (sequence+explode) and
    every probe lands in exactly 1 — then equi-join on (user_id, bucket) and
    refine with the exact BETWEEN. Join-key cardinality becomes
    users × active-buckets: bounded fan-out, co-partitioned shuffle, no
    hot-user blowup. A probe matches an interval's row only in the probe's
    own bucket, so no post-join dedup is needed.

    Reference has no interval/time-range operator (fixed map/shuffle/reduce
    pipeline, ``/root/reference/src/tmapreduce/mrf.h:9-11``); required by
    SURVEY §2B joins."""
    e = load_table(spark, sf_dir, "events")
    iv = (
        e.filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("iv_id"),
            F.unix_micros("ts").alias("start_us"),
        )
        .withColumn("end_us", F.col("start_us") + F.lit(_IV_LEN_US))
    )
    iv_b = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"start_us div {_IV_LEN_US}"),
                F.expr(f"end_us div {_IV_LEN_US}"),
            )
        ),
    )
    probes = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "value")
        .withColumn("bucket", F.expr(f"ts_us div {_IV_LEN_US}"))
    )
    return (
        iv_b.join(probes, ["user_id", "bucket"])
        .filter(F.col("ts_us").between(F.col("start_us"), F.col("end_us")))
        .groupBy("user_id", "iv_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.expr(msum2("value", SPARK)).alias("sum_value"),
        )
    )


EVENTS_INTERVAL_JOIN_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id AS iv_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + {_IV_LEN_US} AS end_us
  FROM events WHERE event_type = 'error'),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'click')
SELECT iv.user_id, iv.iv_id,
       count(*) AS n_clicks,
       {msum2("value", DUCK)} AS sum_value
FROM iv JOIN p ON p.user_id = iv.user_id
              AND p.ts_us BETWEEN iv.start_us AND iv.end_us
GROUP BY iv.user_id, iv.iv_id
"""


def events_feature_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector — the feature-engineering rollup
    that turns an event log into ML training rows: per-type counts
    (conditional aggregation, no pivot shuffle), activity span in days,
    distinct active days, and the purchase-per-click rate (nullif-guarded
    so click-less users are NULL in both engines).

    Scale: ONE groupBy(user_id) computes every feature — conditional
    sums/counts all partial-aggregate map-side, count_distinct(day) rides
    the same Expand pass. Feature vectors for 10⁹ users are one shuffle of
    fixed-width partial states; this is why feature stores batch-build on
    exactly this plan shape."""
    e = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "n_purchase"
            ),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
            F.count_distinct(day).alias("active_days"),
            F.expr("CAST(datediff(max(CAST(ts AS DATE)), min(CAST(ts AS DATE))) AS BIGINT)").alias(
                "span_days"
            ),
            F.expr(
                mround(
                    "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)"
                    " / nullif(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 0)",
                    6,
                )
            ).alias("purchase_per_click"),
        )
    )


EVENTS_FEATURE_ROLLUP_SQL = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       count(DISTINCT CAST(ts AS DATE)) AS active_days,
       CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS BIGINT) AS span_days,
       floor(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
             / nullif(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 0)
             * 1000000 + 0.5) / 1000000 AS purchase_per_click
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Interval-overlap join: two interval SETS (not point probes)
# ---------------------------------------------------------------------------

_OVL_ERR_US = 1_800_000_000   # error windows: 30 min
_OVL_PUR_US = 3_600_000_000   # purchase windows: 60 min
_OVL_W_US = 3_600_000_000     # bucket width = max interval length


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join between two interval sets: per user, every
    (error 30-min window, purchase 60-min window) pair that overlaps, with
    the overlap length — the genomics/uptime "range join" where BOTH sides
    are intervals, not point probes.

    Scale: both sides explode into ≤ 2 buckets at W = the max interval
    length, then hash equi-join on (user_id, bucket). A pair sharing two
    buckets would double-count, so the join keeps a pair only in its
    CANONICAL bucket — the bucket containing max(start_a, start_b), which
    overlap guarantees lies inside both intervals' spans — giving
    exactly-once emission with a filter instead of a DISTINCT shuffle.
    The exact overlap predicate refines as a join residual; no theta join,
    no dedup exchange."""
    e = load_table(spark, sf_dir, "events")

    def windows(event_type: str, dur_us: int, id_col: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == event_type)
            .select(
                "user_id",
                F.col("event_id").alias(id_col),
                F.unix_micros("ts").alias(f"{id_col}_start"),
                (F.unix_micros("ts") + F.lit(dur_us)).alias(f"{id_col}_end"),
            )
            .withColumn(
                "bucket",
                F.explode(
                    F.sequence(
                        F.expr(f"{id_col}_start div {_OVL_W_US}"),
                        F.expr(f"{id_col}_end div {_OVL_W_US}"),
                    )
                ),
            )
        )

    a = windows("error", _OVL_ERR_US, "err_id")
    b = windows("purchase", _OVL_PUR_US, "pur_id")
    return (
        a.join(b, ["user_id", "bucket"])
        .filter(
            (F.col("err_id_start") <= F.col("pur_id_end"))
            & (F.col("pur_id_start") <= F.col("err_id_end"))
            & (
                F.expr(f"greatest(err_id_start, pur_id_start) div {_OVL_W_US}")
                == F.col("bucket")
            )
        )
        .select(
            "user_id",
            "err_id",
            "pur_id",
            (
                F.least("err_id_end", "pur_id_end")
                - F.greatest("err_id_start", "pur_id_start")
            ).alias("overlap_us"),
        )
    )


JOIN_INTERVAL_OVERLAP_SQL = f"""
WITH a AS (
  SELECT user_id, event_id AS err_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_OVL_ERR_US} AS e
  FROM events WHERE event_type = 'error'),
b AS (
  SELECT user_id, event_id AS pur_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_OVL_PUR_US} AS e
  FROM events WHERE event_type = 'purchase')
SELECT a.user_id, a.err_id, b.pur_id,
       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
FROM a JOIN b ON a.user_id = b.user_id
             AND a.s <= b.e AND b.s <= a.e
"""


# ---------------------------------------------------------------------------
# Sequence mining: top event-type trigrams along per-user journeys
# ---------------------------------------------------------------------------

PATH_TOPK = 20


def events_user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey sequence mining: order each user's events by (ts, event_id),
    form consecutive event-type trigrams with lead(), and report the
    corpus-wide top-PATH_TOPK paths — the "what do users do next"
    aggregation behind funnel discovery (the wordcount shape applied to
    behavioral n-grams).

    Scale: ONE window shuffle on user_id builds every trigram (two lead()
    calls share the frame), then the trigram count partial-aggregates
    map-side; top-k is TakeOrderedAndProject. No self-joins — the window
    formulation replaces the classic events-joined-3-ways approach that
    fans out quadratically on hot users."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(PATH_TOPK)
    )


EVENTS_USER_PATH_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path ASC
LIMIT {PATH_TOPK}
"""


# ---------------------------------------------------------------------------
# Longest activity streak: gaps-and-islands over distinct active days
# ---------------------------------------------------------------------------


def window_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands on DATES: distinct active days minus a per-user day
    row_number is constant within a consecutive run, so grouping on that
    difference yields streaks without any self-join or iteration. Emits
    each user's longest streak (ties: earliest start).

    Scale: distinct days partial-aggregate map-side (days per user is tiny
    vs events); the window, streak groupBy, and per-user argmax all share
    ONE hashpartitioning on user_id — a single shuffle end to end."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    grp = days.withColumn(
        "grp", F.expr("date_sub(d, row_number() OVER (PARTITION BY user_id ORDER BY d))")
    )
    streaks = grp.groupBy("user_id", "grp").agg(
        F.count("*").alias("streak_days"), F.min("d").alias("start_day")
    )
    ww = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("start_day")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(ww))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "streak_days",
            F.date_format("start_day", "yyyy-MM-dd").alias("start_day"),
        )
    )


WINDOW_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS g
  FROM days),
streaks AS (
  SELECT user_id, g, count(*) AS streak_days, min(d) AS start_day
  FROM grp GROUP BY user_id, g),
ranked AS (
  SELECT user_id, streak_days, start_day,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY streak_days DESC, start_day ASC) AS rn
  FROM streaks)
SELECT user_id, streak_days, strftime(start_day, '%Y-%m-%d') AS start_day
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# As-of join with tolerance: latest error within a bounded lookback
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 1_800_000_000  # 30-minute lookback bound, µs


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded as-of join: for every click, the LATEST error by the same
    user within the preceding 30 minutes (clicks with no error in the
    window drop out — inner as-of). `join_asof_events` is the unbounded
    as-of; the tolerance variant is what monitoring/attribution actually
    wants, and the bound is also what makes it cheap: because a match can
    only live in [ts-TOL, ts], quantize time at the tolerance width — each
    error lands in exactly 1 bucket, each click probes exactly 2 (its own
    and the previous) — then hash equi-join on (user_id, bucket), refine
    with the exact gap predicate, and keep the max (err_ts, err_id) per
    click. An error matches a click via exactly one of the click's two
    probe buckets, so no dedup is needed.

    Scale: join-key cardinality is users × active-buckets (same shape as
    `events_interval_join`); the unbounded as-of needs a per-user sort —
    this needs only a bounded equi-join plus a 2-row-max aggregation.
    Reference has no temporal join (``src/tmapreduce/mrf.h:9-11``)."""
    e = load_table(spark, sf_dir, "events")
    errs = (
        e.filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("err_id"),
            F.unix_micros("ts").alias("err_us"),
        )
        .withColumn("bucket", F.expr(f"err_us div {_ASOF_TOL_US}"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.unix_micros("ts").alias("click_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"click_us div {_ASOF_TOL_US}"),
                    F.expr(f"click_us div {_ASOF_TOL_US} - 1"),
                )
            ),
        )
    )
    hits = clicks.join(errs, ["user_id", "bucket"]).filter(
        (F.col("click_us") - F.col("err_us")).between(0, _ASOF_TOL_US)
    )
    return (
        hits.groupBy("user_id", "click_id", "click_us")
        .agg(F.max(F.struct("err_us", "err_id")).alias("best"))
        .select(
            "user_id",
            "click_id",
            F.col("best.err_id").alias("last_err"),
            (F.col("click_us") - F.col("best.err_us")).alias("gap_us"),
        )
    )


JOIN_ASOF_TOLERANCE_SQL = f"""
WITH errs AS (
  SELECT user_id, event_id AS err_id, epoch_us(ts) AS err_us
  FROM events WHERE event_type = 'error'),
clicks AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
  FROM events WHERE event_type = 'click'),
hits AS (
  SELECT c.user_id, c.click_id, c.click_us, e.err_id, e.err_us,
         row_number() OVER (PARTITION BY c.click_id
                            ORDER BY e.err_us DESC, e.err_id DESC) AS rn
  FROM clicks c
  JOIN errs e ON e.user_id = c.user_id
             AND c.click_us - e.err_us BETWEEN 0 AND {_ASOF_TOL_US})
SELECT user_id, click_id, err_id AS last_err, click_us - err_us AS gap_us
FROM hits WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Mixed-length interval join: two-level banding (fine + coarse tail)
# ---------------------------------------------------------------------------

# Mixed durations: 6..120 min per interval, deterministic per event. A single
# fixed bucket width can't serve both ends — fine buckets make long intervals
# explode into many rows, coarse buckets make every probe drag in far-away
# short intervals. Two-level banding: intervals at or under the "p99" width
# band at that width; the long tail bands at a coarse width wider than the
# max duration. Every interval lands in EXACTLY ONE level and overlaps <= 2
# of its level's buckets; every probe joins both levels (two equi-joins, a
# union — never a theta join).
_IVM_DUR_US = "(1 + event_id % 20) * 360000000"  # 6..120 min, µs
_IVM_FINE_US = 1_800_000_000   # 30 min — covers the short-interval mass
_IVM_COARSE_US = 9_000_000_000  # 150 min — > max duration, so tail iv ≤ 2 buckets


def events_interval_join_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with MIXED window lengths — each error event opens a
    window of 6..120 minutes (length keyed to the event); count each user's
    clicks (and value sum) inside each window.

    `events_interval_join` banding assumes one fixed interval length; here
    lengths span 20×, so bucketing every interval at the fine width would
    cost long intervals ceil(120/30)+1 = 5 bucket rows each (and arbitrarily
    many under a heavier tail), while bucketing everything at the tail width
    makes every probe scan ~5× more candidates. Two-level banding splits by
    length class: dur ≤ 30 min bands at 30 min, the tail bands at 150 min
    (> max dur) — every interval sits in exactly one level and overlaps ≤ 2
    of its level's buckets, so emission is ≤ 2 rows/interval REGARDLESS of
    the length distribution, and each probe joins exactly 2 bucket keys
    (one per level). Both joins are hash equi-joins on (user_id, bucket);
    disjoint levels mean the union needs no dedup. This is the standard
    multi-resolution interval-index trick (cf. banded range joins in
    Databricks' range-join optimization), composed from plain exchanges.

    Reference has no interval operator (``src/tmapreduce/mrf.h:9-11``);
    SURVEY §2B joins, r04 verdict #6."""
    e = load_table(spark, sf_dir, "events")
    iv = (
        e.filter(F.col("event_type") == "error")
        .selectExpr(
            "user_id",
            "event_id AS iv_id",
            "unix_micros(ts) AS start_us",
            f"unix_micros(ts) + {_IVM_DUR_US} AS end_us",
        )
        .withColumn("dur_us", F.col("end_us") - F.col("start_us"))
    )

    def banded(side: DataFrame, width: int) -> DataFrame:
        return side.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"start_us div {width}"), F.expr(f"end_us div {width}")
                )
            ),
        )

    iv_fine = banded(iv.filter(F.col("dur_us") <= _IVM_FINE_US), _IVM_FINE_US)
    iv_tail = banded(iv.filter(F.col("dur_us") > _IVM_FINE_US), _IVM_COARSE_US)

    probes = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "value")
        .withColumn("fine_bucket", F.expr(f"ts_us div {_IVM_FINE_US}"))
        .withColumn("coarse_bucket", F.expr(f"ts_us div {_IVM_COARSE_US}"))
    )

    fine_hits = iv_fine.join(
        probes,
        (iv_fine["user_id"] == probes["user_id"])
        & (iv_fine["bucket"] == probes["fine_bucket"]),
    )
    tail_hits = iv_tail.join(
        probes,
        (iv_tail["user_id"] == probes["user_id"])
        & (iv_tail["bucket"] == probes["coarse_bucket"]),
    )
    hits = fine_hits.select(
        iv_fine["user_id"], "iv_id", "ts_us", "start_us", "end_us", "value"
    ).unionByName(
        tail_hits.select(
            iv_tail["user_id"], "iv_id", "ts_us", "start_us", "end_us", "value"
        )
    )
    return (
        hits.filter(F.col("ts_us").between(F.col("start_us"), F.col("end_us")))
        .groupBy("user_id", "iv_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.expr(msum2("value", SPARK)).alias("sum_value"),
        )
    )


EVENTS_INTERVAL_MIXED_SQL = f"""
WITH iv AS (
  SELECT user_id, event_id AS iv_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + {_IVM_DUR_US} AS end_us
  FROM events WHERE event_type = 'error'),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'click')
SELECT iv.user_id, iv.iv_id,
       count(*) AS n_clicks,
       {msum2("value", DUCK)} AS sum_value
FROM iv JOIN p ON p.user_id = iv.user_id
              AND p.ts_us BETWEEN iv.start_us AND iv.end_us
GROUP BY iv.user_id, iv.iv_id
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) layout key — multi-dimensional clustering for data skipping
# ---------------------------------------------------------------------------

_Z_BITS = 10  # 10 bits per dimension → 20-bit interleaved key


def _zorder_expr(x: str, y: str, dialect: str) -> str:
    """Bit-interleave expression text (x in even positions, y in odd) built
    from pure arithmetic — (v div 2^i) % 2 * 4^i — so the identical formula
    runs in both dialects (only the integer-division token differs); no
    engine-specific bit operators in the oracle-compared path."""
    d = "div" if dialect == SPARK else "//"
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x}) {d} {1 << i}) % 2) * {4 ** i}")
        terms.append(f"((({y}) {d} {1 << i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two query dimensions (customer
    bucket × price bucket): interleaving the dims' bits makes rows close in
    EITHER dimension land close in the sort order, so one range-sorted write
    gives parquet min/max stats that prune scans filtered on x, on y, or on
    both — the multi-dim layout trick behind Delta/Iceberg Z-ORDER BY,
    expressed as a plain deterministic column.

    Scale: the key is per-row arithmetic (codegen, no shuffle); the write
    path would `repartitionByRange(zkey)` — one range shuffle at layout
    time buys every later scan its skipping. Emitted here per-row with the
    dims for the oracle; bijectivity (key ↔ dims) is test-pinned."""
    o = load_table(spark, sf_dir, "orders")
    x = "o_custkey % 1024"
    y = "CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT)"
    return o.selectExpr(
        "o_orderkey",
        f"{x} AS cust_bucket",
        f"{y} AS price_bucket",
        f"CAST({_zorder_expr(x, y, SPARK)} AS BIGINT) AS zkey",
    )


LAYOUT_ZORDER_SQL = f"""
SELECT o_orderkey,
       o_custkey % 1024 AS cust_bucket,
       CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT) AS price_bucket,
       CAST({_zorder_expr('o_custkey % 1024',
                          'CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT)',
                          DUCK)} AS BIGINT) AS zkey
FROM orders
"""


HILBERT_BITS = 10  # 1024×1024 grid — matches the Z-order entry's dims


def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over the same (customer bucket × price
    bucket) dims as `layout_zorder_key` — the strictly-better space-filling
    curve: consecutive keys are always grid-ADJACENT (Manhattan distance 1,
    test-pinned), where Z-order takes long diagonal jumps at quadrant
    boundaries, so range-sorted parquet files get tighter per-file min/max
    envelopes and skip more on 2-D predicates (what Databricks liquid
    clustering moved to over Z-order).

    The xy2d bit loop runs UNROLLED as 10 chained integer projections —
    every step is plain codegen'd column arithmetic (the aggregate() HOF
    fold this replaces evaluated its struct lambda interpreted per row,
    outside whole-stage codegen; CollapseProject keeps the steps separate
    because each rotated coordinate is a non-cheap alias referenced
    multiple times downstream). The oracle replays the identical loop as
    a recursive CTE.

    Scale: identical write path to Z-order — `repartitionByRange(hkey)`
    once at layout time."""
    o = load_table(spark, sf_dir, "orders")
    x = "o_custkey % 1024"
    y = "CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT)"
    df = o.selectExpr(
        "o_orderkey",
        f"CAST({x} AS BIGINT) AS cust_bucket",
        f"CAST({y} AS BIGINT) AS price_bucket",
        f"CAST({x} AS BIGINT) AS hx",
        f"CAST({y} AS BIGINT) AS hy",
        "CAST(0 AS BIGINT) AS hd",
    )
    for i in range(HILBERT_BITS - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        df = df.selectExpr(
            "o_orderkey",
            "cust_bucket",
            "price_bucket",
            f"(CASE WHEN (hy & {s}) = 0"
            f" THEN (CASE WHEN (hx & {s}) > 0 THEN {s} - 1 - hy ELSE hy END)"
            f" ELSE hx END) AS hx",
            f"(CASE WHEN (hy & {s}) = 0"
            f" THEN (CASE WHEN (hx & {s}) > 0 THEN {s} - 1 - hx ELSE hx END)"
            f" ELSE hy END) AS hy",
            f"(hd + {s * s} * CAST(((3 * {rx}) ^ {ry}) AS BIGINT)) AS hd",
        )
    return df.selectExpr(
        "o_orderkey", "cust_bucket", "price_bucket", "hd AS hkey"
    )


LAYOUT_HILBERT_SQL = f"""
WITH RECURSIVE base AS (
  SELECT o_orderkey,
         CAST(o_custkey % 1024 AS BIGINT) AS x,
         CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT) AS y
  FROM orders),
hil AS (
  SELECT o_orderkey, x, y, CAST(0 AS BIGINT) AS d, {HILBERT_BITS - 1} AS i,
         x AS x0, y AS y0
  FROM base
  UNION ALL
  SELECT o_orderkey,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END) ELSE x END,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END) ELSE y END,
         d + s * s * xor(3 * rx, ry),
         i - 1, x0, y0
  FROM (SELECT o_orderkey, x, y, d, i, x0, y0,
               (CAST(1 AS BIGINT) << i) AS s,
               CASE WHEN (x & (CAST(1 AS BIGINT) << i)) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & (CAST(1 AS BIGINT) << i)) > 0 THEN 1 ELSE 0 END AS ry
        FROM hil WHERE i >= 0) t)
SELECT o_orderkey, x0 AS cust_bucket, y0 AS price_bucket, d AS hkey
FROM hil WHERE i = -1
"""


ASOF_NEAREST_TOL_US = 6 * 3600 * 1_000_000  # nearest-direction tolerance


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: every purchase matched to the CLOSEST
    error event by the same user in EITHER direction, within a ±6 h
    tolerance (pandas merge_asof direction='nearest') — the sensor/trade
    alignment semantics where "the latest before" is wrong half the time.

    Computed with ZERO joins: one pass over the per-user ordered stream
    carries the previous error via last(ignore nulls) over a preceding
    frame and the next error via first(ignore nulls) over a following
    frame, then picks the smaller |gap| (tie → backward, the merge_asof
    rule). The two frames share one user_id shuffle.

    Scale: O(1) window state per row in both directions; the equivalent
    bucketed-join formulation (join_asof_tolerance) wins only when the
    probe side is a separate, sparse table — for stream-internal matching
    the window form never shuffles twice."""
    e = load_table(spark, sf_dir, "events")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    base = e.selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "unix_micros(ts) AS us",
        "CASE WHEN event_type = 'error' THEN event_id END AS e_ev",
        "CASE WHEN event_type = 'error' THEN unix_micros(ts) END AS e_us",
    )
    marked = (
        base.withColumn("prev_ev", F.last("e_ev", ignorenulls=True).over(wb))
        .withColumn("prev_us", F.last("e_us", ignorenulls=True).over(wb))
        .withColumn("next_ev", F.first("e_ev", ignorenulls=True).over(wf))
        .withColumn("next_us", F.first("e_us", ignorenulls=True).over(wf))
        .filter("event_type = 'purchase'")
    )
    bg = f"(prev_us IS NOT NULL AND us - prev_us <= {ASOF_NEAREST_TOL_US})"
    fg = f"(next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US})"
    pick_prev = f"({bg} AND (NOT {fg} OR us - prev_us <= next_us - us))"
    return marked.selectExpr(
        "user_id",
        "event_id AS purchase_id",
        "us AS purchase_us",
        f"CASE WHEN {pick_prev} THEN prev_ev WHEN {fg} THEN next_ev END AS error_id",
        f"CASE WHEN {pick_prev} THEN us - prev_us WHEN {fg} THEN next_us - us END AS gap_us",
        f"CASE WHEN {pick_prev} THEN 'backward' WHEN {fg} THEN 'forward' END AS direction",
    )


JOIN_ASOF_NEAREST_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN event_type = 'error' THEN event_id END AS e_ev,
         CASE WHEN event_type = 'error' THEN epoch_us(ts) END AS e_us
  FROM events),
marked AS (
  SELECT user_id, event_id, event_type, us,
         last_value(e_ev IGNORE NULLS) OVER wb AS prev_ev,
         last_value(e_us IGNORE NULLS) OVER wb AS prev_us,
         first_value(e_ev IGNORE NULLS) OVER wf AS next_ev,
         first_value(e_us IGNORE NULLS) OVER wf AS next_us
  FROM base
  WINDOW wb AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wf AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id, event_id AS purchase_id, us AS purchase_us,
       CASE WHEN (prev_us IS NOT NULL AND us - prev_us <= {ASOF_NEAREST_TOL_US})
                 AND (NOT (next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US})
                      OR us - prev_us <= next_us - us)
            THEN prev_ev
            WHEN next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US}
            THEN next_ev END AS error_id,
       CASE WHEN (prev_us IS NOT NULL AND us - prev_us <= {ASOF_NEAREST_TOL_US})
                 AND (NOT (next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US})
                      OR us - prev_us <= next_us - us)
            THEN us - prev_us
            WHEN next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US}
            THEN next_us - us END AS gap_us,
       CASE WHEN (prev_us IS NOT NULL AND us - prev_us <= {ASOF_NEAREST_TOL_US})
                 AND (NOT (next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US})
                      OR us - prev_us <= next_us - us)
            THEN 'backward'
            WHEN next_us IS NOT NULL AND next_us - us <= {ASOF_NEAREST_TOL_US}
            THEN 'forward' END AS direction
FROM marked WHERE event_type = 'purchase'
"""


QUERIES: dict[str, QuerySpec] = {
    "layout_hilbert_key": QuerySpec(layout_hilbert_key, LAYOUT_HILBERT_SQL, "layout"),
    "join_asof_nearest": QuerySpec(join_asof_nearest, JOIN_ASOF_NEAREST_SQL, "join"),
    "layout_zorder_key": QuerySpec(layout_zorder_key, LAYOUT_ZORDER_SQL, "layout"),
    "join_fuzzy_name": QuerySpec(join_fuzzy_name, JOIN_FUZZY_SQL, "join"),
    "join_fuzzy_symdel": QuerySpec(join_fuzzy_symdel, JOIN_FUZZY_SQL, "join"),
    "join_lateral_topn": QuerySpec(join_lateral_topn, JOIN_LATERAL_SQL, "join"),
    "join_asof_events": QuerySpec(join_asof_events, JOIN_ASOF_SQL, "join"),
    "events_interval_join": QuerySpec(
        events_interval_join, EVENTS_INTERVAL_JOIN_SQL, "join"
    ),
    "events_interval_join_mixed": QuerySpec(
        events_interval_join_mixed, EVENTS_INTERVAL_MIXED_SQL, "join"
    ),
    "join_asof_tolerance": QuerySpec(
        join_asof_tolerance, JOIN_ASOF_TOLERANCE_SQL, "join"
    ),
    "events_user_path_topk": QuerySpec(
        events_user_path_topk, EVENTS_USER_PATH_SQL, "time-window"
    ),
    "join_interval_overlap": QuerySpec(
        join_interval_overlap, JOIN_INTERVAL_OVERLAP_SQL, "join"
    ),
    "events_feature_rollup": QuerySpec(
        events_feature_rollup, EVENTS_FEATURE_ROLLUP_SQL, "time-window"
    ),
    "window_streak_longest": QuerySpec(
        window_streak_longest, WINDOW_STREAK_SQL, "window"
    ),
    "pivot_status_priority": QuerySpec(pivot_status_priority, PIVOT_SQL, "aggregation"),
    "percentiles_price": QuerySpec(percentiles_price, PERCENTILES_SQL, "aggregation"),
    "subquery_above_avg": QuerySpec(subquery_above_avg, SUBQUERY_ABOVE_AVG_SQL, "subquery"),
    "subquery_exists": QuerySpec(subquery_exists, SUBQUERY_EXISTS_SQL, "subquery"),
    "q18_large_orders": QuerySpec(q18_large_orders, Q18_SQL, "aggregation"),
    "q14_promo_share": QuerySpec(q14_promo_share, Q14_SQL, "join+agg"),
    "q16_supplier_part_count": QuerySpec(q16_supplier_part_count, Q16_SQL, "aggregation"),
    "q19_disjunctive": QuerySpec(q19_disjunctive, Q19_SQL, "join+filter"),
    "q10_returned_items": QuerySpec(q10_returned_items, Q10_SQL, "join+topk"),
}


# --- Jaro-Winkler fuzzy name join (shared-token canopy blocking) -----------

JW_THRESHOLD = 0.9


def join_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler fuzzy self-join over part names — the record-linkage
    similarity that rewards shared prefixes (census/name-matching
    standard), complementing `join_fuzzy_name`'s edit distance and
    `join_fuzzy_symdel`'s deletion neighborhoods. Pairs block on (brand,
    ANY shared name token): two multiword names at JW >= 0.9 share at
    least one full token on this corpus (a first-token-only canopy was
    measured to MISS prefix-divergent matches like "old rod"/"cold rod"
    — recall verified exhaustively vs the unblocked within-brand join at
    sf0.001, 0 missed), so the canopy is recall-complete while cutting
    the within-brand quadratic to token-bucket quadratics.

    Spark computes JW in an Arrow-batched pandas UDF (no JVM builtin
    exists) whose Python mirrors DuckDB's C++ implementation EXACTLY —
    validated bit-for-bit over 6k random + fixture name pairs (matching
    window, half-transposition count, p=0.1 prefix boost above 0.7, and
    the empty-string edge where DuckDB returns 0.0) — so the >= 0.9
    admission compares identical doubles on both engines and no mround
    enters the filter.

    Scale: candidate pairs are DISTINCT-ed on keys BEFORE scoring (a
    5-token pair collides in up to 5 buckets — scoring once, not five
    times, is the real cost lever: ~1.9M candidates at sf0.1), and names
    ride back in via two broadcast joins against the part dim. The UDF
    sees verification pairs only, never the corpus cross-product; fanout
    per bucket is bounded by token frequency within a brand, the
    standard canopy guarantee."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    # no annotations: module-level `from __future__ import annotations`
    # stringifies them, which the pandas_udf type-hint inference rejects
    @pandas_udf(DoubleType())
    def jw_udf(sa, sb):
        return pd.Series(
            [_jaro_winkler_py(a, b) for a, b in zip(sa, sb)], dtype="float64"
        )

    # the scorer IS deterministic; the flag only blocks Catalyst's
    # CollapseProject/pushdown from inlining the UDF into BOTH the filter
    # and the projection (ArrowEvalPython x2 = every pair scored twice)
    jw_udf = jw_udf.asNondeterministic()

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    toks = p.select(
        "p_partkey",
        "p_brand",
        F.explode(F.expr("split(p_name, ' ')")).alias("tok"),
    )
    # key-repartition to the session's parallelism so the candidate build —
    # and with it the 1.9M-pair Python scoring stage downstream — spreads
    # over every core at ANY cluster size (a bare join here was A/B-measured
    # 1.6x slower: AQE under-parallelizes the UDF stage; a hard-coded
    # partition count would couple the plan to the local core count)
    a = toks.repartition(
        spark.sparkContext.defaultParallelism, "p_brand", "tok"
    ).alias("a")
    b = toks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
        )
        .distinct()
        # AQE coalesces the distinct's output on BYTES (a few MB of id
        # pairs), but the next stage pays Python-side Jaro-Winkler per row —
        # spread the scoring over the session's full parallelism explicitly
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # r13 (guide §4 "pass fewer rows across the boundary"): a provably
    # conservative JVM prune before the Python stage. w >= 0.9 needs
    # J >= 5/6 — the Winkler boost adds at most 4*0.1*(1-J) — and Jaro's
    # match count m never exceeds the common-character multiset count c
    # (window-limited matching only removes matches), so
    #   J <= (c/la + c/lb + 1)/3 < 5/6  ⟺  2*c*(la+lb) < 3*la*lb
    # proves a pair is below threshold without scoring it. c is bounded
    # above by per-letter count minima (a-z + space, covering the corpus
    # charset) plus min of the leftover counts (any other characters).
    # All-integer arithmetic, so no float-boundary hazard; the pruned
    # pairs are exactly pairs the >= 0.9 filter would drop, results
    # unchanged (pin: test_jw_char_prune_never_drops_a_match). The 27
    # per-letter counts are computed ONCE per part row inside the
    # broadcast dims, not per pair; the per-pair work is one least()
    # fold — nanoseconds against the ~µs Python crossing it saves. At
    # sf1 (10x parts per (brand, token) bucket → ~100x pairs) the Arrow
    # stage then sees only plausible pairs.
    _chars = "abcdefghijklmnopqrstuvwxyz "
    _cv = "array(" + ", ".join(
        f"CAST(length(p_name) - length(replace(p_name, '{ch}', '')) AS BIGINT)"
        for ch in _chars
    ) + ")"
    pv = p.selectExpr("p_partkey", "p_name", f"{_cv} AS cv").selectExpr(
        "p_partkey",
        "p_name",
        "cv",
        "CAST(length(p_name) AS BIGINT)"
        " - aggregate(cv, CAST(0 AS BIGINT), (acc, v) -> acc + v) AS oth",
    )
    named = cand.join(
        F.broadcast(
            pv.selectExpr(
                "p_partkey AS part_a", "p_name AS name_a",
                "cv AS cv_a", "oth AS oth_a",
            )
        ),
        "part_a",
    ).join(
        F.broadcast(
            pv.selectExpr(
                "p_partkey AS part_b", "p_name AS name_b",
                "cv AS cv_b", "oth AS oth_b",
            )
        ),
        "part_b",
    )
    plausible = named.filter(
        F.expr(
            "2 * (aggregate(zip_with(cv_a, cv_b, (x, y) -> least(x, y)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) + least(oth_a, oth_b)) "
            "* (length(name_a) + length(name_b)) "
            ">= 3 * CAST(length(name_a) AS BIGINT) * length(name_b)"
        )
    ).select("brand", "part_a", "part_b", "name_a", "name_b")
    scored = plausible.withColumn("sim", jw_udf(F.col("name_a"), F.col("name_b")))
    return scored.filter(F.col("sim") >= JW_THRESHOLD).selectExpr(
        "brand",
        "part_a",
        "part_b",
        "name_a",
        "name_b",
        mround("sim", 6) + " AS jw_sim",
    )


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Bit-exact Python mirror of DuckDB 1.0's jaro_winkler_similarity
    (validated on 6k cases: random strings + real part names)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        j = 1.0
    else:
        md = max(l1, l2) // 2 - 1
        if md < 0:
            md = 0
        f1 = [False] * l1
        f2 = [False] * l2
        m = 0
        for i in range(l1):
            lo = i - md if i - md > 0 else 0
            hi = i + md + 1 if i + md + 1 < l2 else l2
            for k in range(lo, hi):
                if not f2[k] and s1[i] == s2[k]:
                    f1[i] = True
                    f2[k] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(l1):
            if f1[i]:
                while not f2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        j = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if j > 0.7:
        pl = 0
        for ca, cb in zip(s1[:4], s2[:4]):
            if ca == cb:
                pl += 1
            else:
                break
        j = j + pl * 0.1 * (1 - j)
    return j


JOIN_JARO_SQL = f"""
WITH toks AS (
  SELECT p_partkey, p_brand, unnest(string_split(p_name, ' ')) AS tok
  FROM part),
cand AS (
  SELECT DISTINCT a.p_brand AS brand, a.p_partkey AS part_a,
         b.p_partkey AS part_b
  FROM toks a JOIN toks b
    ON a.p_brand = b.p_brand AND a.tok = b.tok
   AND a.p_partkey < b.p_partkey)
SELECT c.brand, c.part_a, c.part_b,
       pa.p_name AS name_a, pb.p_name AS name_b,
       {mround('jaro_winkler_similarity(pa.p_name, pb.p_name)', 6)} AS jw_sim
FROM cand c
JOIN part pa ON pa.p_partkey = c.part_a
JOIN part pb ON pb.p_partkey = c.part_b
WHERE jaro_winkler_similarity(pa.p_name, pb.p_name) >= {JW_THRESHOLD}
"""


QUERIES["join_jaro_winkler"] = QuerySpec(join_jaro_winkler, JOIN_JARO_SQL, "join")


# ---------------------------------------------------------------------------
# Grid-blocked spatial nearest-neighbor join (radius-bounded 1-NN)
# ---------------------------------------------------------------------------

GEO_SPAN = 100_000   # coordinate space is [0, GEO_SPAN) x [0, GEO_SPAN)
GEO_CELL = 5_000     # grid cell edge -> 20x20 cells over the space
# Public Lehmer/Park-Miller multipliers; pure BIGINT arithmetic so both
# engines derive bit-identical synthetic coordinates from the join keys.
GEO_MX = 48271
GEO_MY = 69621


def join_geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor join, grid-blocked (the PBSM / Sedona
    partitioning pattern): every customer finds its nearest supplier among
    those in the surrounding 3x3 block of grid cells — the radius-bounded
    1-NN semantics every spatial engine exposes (`ST_KNN` with a search
    radius). Customers with an empty neighborhood report -1.

    Locations are synthesized deterministically from the keys (the fixture
    carries no geo columns): x = key*48271 mod 100000, y = key*69621 mod
    100000 — integer expressions both engines evaluate identically.

    Spark-first shape: the SMALL side (suppliers) is exploded 9x into its
    neighbor cells and broadcast; the probe side maps each customer to ONE
    cell key and broadcast-hash-joins — the big side is never replicated,
    never shuffled. Candidate fan-out per probe is bounded by block
    density (the spatial analogue of LSH band size), not by table size;
    the only per-probe reduction is a WindowGroupLimit on (d2, suppkey).
    At 100 TB with a big right side the same plan shuffles both sides on
    the cell key — the replicate-small/partition-big trade is exactly
    Sedona's PBSM. Distances compare as exact BIGINT squared euclidean —
    no floats anywhere.

    Reference scope check: no spatial operator exists in the reference
    (surface = src/tmapreduce/mrf.h:9-11); beyond-reference extra."""
    c = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"(c_custkey * {GEO_MX}) % {GEO_SPAN} AS cx",
        f"(c_custkey * {GEO_MY}) % {GEO_SPAN} AS cy",
    ).selectExpr("*", f"cx div {GEO_CELL} AS bcx", f"cy div {GEO_CELL} AS bcy")
    s = load_table(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        f"(s_suppkey * {GEO_MX}) % {GEO_SPAN} AS sx",
        f"(s_suppkey * {GEO_MY}) % {GEO_SPAN} AS sy",
    )
    # 9-cell neighborhood replication of the small side only.
    s_cells = (
        s.selectExpr("*", "explode(sequence(-1, 1)) AS dx")
        .selectExpr("*", "explode(sequence(-1, 1)) AS dy")
        .selectExpr(
            "s_suppkey", "sx", "sy",
            f"sx div {GEO_CELL} + dx AS bx",
            f"sy div {GEO_CELL} + dy AS by",
        )
    )
    cand = c.join(
        F.broadcast(s_cells),
        (F.col("bcx") == F.col("bx")) & (F.col("bcy") == F.col("by")),
        "left",
    ).selectExpr(
        "c_custkey", "cx", "cy", "s_suppkey",
        "(cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2",
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("d2").asc_nulls_last(), F.col("s_suppkey").asc_nulls_last()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_candidates",
            F.count("s_suppkey").over(Window.partitionBy("c_custkey")),
        )
        .filter(F.col("rn") == 1)
        .selectExpr(
            "c_custkey", "cx", "cy",
            "CAST(n_candidates AS BIGINT) AS n_candidates",
            "coalesce(s_suppkey, -1) AS nn_suppkey",
            "coalesce(d2, -1) AS nn_dist2",
        )
    )


JOIN_GEO_KNN_SQL = f"""
WITH c AS (
  SELECT c_custkey,
         (c_custkey * {GEO_MX}) % {GEO_SPAN} AS cx,
         (c_custkey * {GEO_MY}) % {GEO_SPAN} AS cy
  FROM customer),
s AS (
  SELECT s_suppkey,
         (s_suppkey * {GEO_MX}) % {GEO_SPAN} AS sx,
         (s_suppkey * {GEO_MY}) % {GEO_SPAN} AS sy
  FROM supplier),
cand AS (
  SELECT c.c_custkey, c.cx, c.cy, s.s_suppkey,
         (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS d2
  FROM c LEFT JOIN s
    ON abs(c.cx // {GEO_CELL} - s.sx // {GEO_CELL}) <= 1
   AND abs(c.cy // {GEO_CELL} - s.sy // {GEO_CELL}) <= 1),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY c_custkey
                            ORDER BY d2 ASC NULLS LAST,
                                     s_suppkey ASC NULLS LAST) AS rn,
         count(s_suppkey) OVER (PARTITION BY c_custkey) AS n_candidates
  FROM cand)
SELECT c_custkey, cx, cy,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       coalesce(s_suppkey, -1) AS nn_suppkey,
       coalesce(d2, -1) AS nn_dist2
FROM ranked WHERE rn = 1
"""


QUERIES["join_geo_grid_knn"] = QuerySpec(join_geo_grid_knn, JOIN_GEO_KNN_SQL, "join")


# ---------------------------------------------------------------------------
# Longest-prefix-match (CIDR routing-table) join
# ---------------------------------------------------------------------------

# Knuth's 32-bit multiplicative-hash constant (public); maps keys uniformly
# into the synthetic IPv4 space with pure BIGINT arithmetic.
LPM_HASH = 2654435761
LPM_SPACE = 4294967296  # 2^32
LPM_LENS = (4, 8, 12)   # distinct prefix lengths present in the route table


def _lpm_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic route table: each supplier contributes ONE route whose
    prefix length cycles through /4, /8, /12 and whose prefix is the top
    bits of the supplier's hashed address; colliding prefixes keep the
    smallest suppkey as next hop (deterministic dedup)."""
    s = load_table(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        f"(s_suppkey * {LPM_HASH}) % {LPM_SPACE} AS ip_s",
        f"CAST(4 + 4 * (s_suppkey % 3) AS INT) AS plen",
    )
    return (
        s.selectExpr(
            "plen",
            # top `plen` bits: ip >> (32 - plen), via exact power-of-two div
            "ip_s div CAST(pow(2, 32 - plen) AS BIGINT) AS pkey",
            "s_suppkey",
        )
        .groupBy("plen", "pkey")
        .agg(F.min("s_suppkey").alias("next_hop"))
    )


def join_ip_cidr_lpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match join: each customer's synthetic IPv4 address is
    routed through a CIDR table holding /4, /8 and /12 prefixes; the match
    with the longest prefix wins (the IP-geolocation / firewall-rule /
    routing-table lookup every network-analytics pipeline runs).

    Spark-first shape: instead of a range/between join (which Catalyst can
    only BNL) or a 32-way probe expansion, the probe side computes ONE key
    per DISTINCT prefix length in the table (3 here) and takes THREE
    broadcast left joins against the length-filtered route slices; the
    winner is a coalesce in precedence order. The big side is never
    exploded, never shuffled — the whole lookup is map-only against a
    broadcast table (real-world route tables are ~1M rows, comfortably
    broadcastable), which is the textbook LPM-as-equi-join rewrite.

    Reference scope check: no such operator in the reference (mrf.h:9-11);
    beyond-reference extra."""
    routes = _lpm_routes(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"(c_custkey * {LPM_HASH}) % {LPM_SPACE} AS ip",
    )
    out = c
    for plen in LPM_LENS:
        shift = 2 ** (32 - plen)
        r = routes.filter(F.col("plen") == plen).selectExpr(
            f"pkey AS pkey{plen}", f"next_hop AS hop{plen}"
        )
        out = out.withColumn(f"k{plen}", F.expr(f"ip div {shift}")).join(
            F.broadcast(r),
            F.col(f"k{plen}") == F.col(f"pkey{plen}"),
            "left",
        )
    return out.selectExpr(
        "c_custkey",
        "ip",
        "CASE WHEN hop12 IS NOT NULL THEN 12 "
        "WHEN hop8 IS NOT NULL THEN 8 "
        "WHEN hop4 IS NOT NULL THEN 4 ELSE 0 END AS matched_len",
        "coalesce(hop12, hop8, hop4, -1) AS next_hop",
    )


JOIN_LPM_SQL = f"""
WITH routes AS (
  SELECT plen, pkey, min(s_suppkey) AS next_hop
  FROM (SELECT CAST(4 + 4 * (s_suppkey % 3) AS INT) AS plen,
               ((s_suppkey * {LPM_HASH}) % {LPM_SPACE})
                 // CAST(pow(2, 32 - (4 + 4 * (s_suppkey % 3))) AS BIGINT)
                 AS pkey,
               s_suppkey
        FROM supplier) t
  GROUP BY plen, pkey),
c AS (
  SELECT c_custkey, (c_custkey * {LPM_HASH}) % {LPM_SPACE} AS ip
  FROM customer)
SELECT c.c_custkey, c.ip,
       CASE WHEN r12.next_hop IS NOT NULL THEN 12
            WHEN r8.next_hop IS NOT NULL THEN 8
            WHEN r4.next_hop IS NOT NULL THEN 4 ELSE 0 END AS matched_len,
       coalesce(r12.next_hop, r8.next_hop, r4.next_hop, -1) AS next_hop
FROM c
LEFT JOIN routes r4  ON r4.plen = 4  AND c.ip // 268435456 = r4.pkey
LEFT JOIN routes r8  ON r8.plen = 8  AND c.ip // 16777216 = r8.pkey
LEFT JOIN routes r12 ON r12.plen = 12 AND c.ip // 1048576 = r12.pkey
"""


QUERIES["join_ip_cidr_lpm"] = QuerySpec(join_ip_cidr_lpm, JOIN_LPM_SQL, "join")


# ---------------------------------------------------------------------------
# Zone-map data-skipping audit: does the layout actually prune scans?
# ---------------------------------------------------------------------------

SKIP_CHUNK = 1000           # simulated file/row-group size, in rows
SKIP_DATE_LO = "DATE '1996-01-01'"
SKIP_DATE_HI = "DATE '1996-03-31'"
SKIP_PRICE_LO = 100_000_00  # cents
SKIP_PRICE_HI = 150_000_00


def layout_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping effectiveness audit: simulate writing orders in
    three physical layouts — natural key order, date-sorted, and Z-ordered
    (`layout_zorder_key`'s key) — as 1000-row zones carrying min/max stats
    (exactly what parquet row-group footers / Delta file stats hold), then
    measure, for a date predicate and a price predicate, how many zones a
    stats-pruned scan skips and the read amplification of the surviving
    rows. This is the number that justifies choosing a layout: date-sort
    prunes the date probe (14/15 zones at sf0.001) but nothing else;
    Z-order over (customer, price) prunes the price probe while still
    clustering customers; natural order prunes neither — exactly the
    trade a Delta/Iceberg OPTIMIZE decision weighs.

    Exactness: zone bounds, skip decisions, and row counts are all integer
    comparisons on epoch days / exact cents; only the two reported ratios
    divide, as shared text.

    Scale: at 100 TB the zone-stat table comes FREE from file footers (the
    `pipeline_compaction_plan` path) — nobody re-sorts the fact to audit
    it; the three explicit range-sorts here exist only to SIMULATE the
    candidate layouts side-by-side on fixture data (layout time is when
    that one range shuffle is paid for real). Everything downstream of the
    rank — the audit itself — is algebra on the zones-per-layout table
    (rows/1000), and the true-match census is one conditional aggregate."""
    o = load_table(spark, sf_dir, "orders")
    base = o.selectExpr(
        "o_orderkey",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) AS d",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c",
        "o_custkey % 1024 AS zx",
        "CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT) AS zy",
    ).selectExpr(
        "o_orderkey", "d", "c",
        f"CAST({_zorder_expr('zx', 'zy', SPARK)} AS BIGINT) AS zkey",
    )
    layouts = None
    for layout, order in (("natural", "o_orderkey"),
                          ("date_sorted", "d, o_orderkey"),
                          ("zorder", "zkey, o_orderkey")):
        part = base.selectExpr(
            f"'{layout}' AS layout",
            f"row_number() OVER (ORDER BY {order}) AS rn",
            "d", "c",
        )
        layouts = part if layouts is None else layouts.unionAll(part)
    chunks = layouts.selectExpr(
        "layout", f"(rn - 1) div {SKIP_CHUNK} AS chunk", "d", "c"
    ).groupBy("layout", "chunk").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("d").alias("min_d"), F.max("d").alias("max_d"),
        F.min("c").alias("min_c"), F.max("c").alias("max_c"),
    )
    lo_d = f"CAST(datediff({SKIP_DATE_LO}, DATE '1970-01-01') AS BIGINT)"
    hi_d = f"CAST(datediff({SKIP_DATE_HI}, DATE '1970-01-01') AS BIGINT)"
    truth = base.agg(
        F.sum(F.expr(f"CASE WHEN d BETWEEN {lo_d} AND {hi_d} THEN 1 ELSE 0 END"))
        .cast("bigint").alias("match_date"),
        F.sum(F.expr(
            f"CASE WHEN c BETWEEN {SKIP_PRICE_LO} AND {SKIP_PRICE_HI} "
            "THEN 1 ELSE 0 END"
        )).cast("bigint").alias("match_price"),
    )
    per = chunks.selectExpr(
        "layout",
        f"CASE WHEN max_d < {lo_d} OR min_d > {hi_d} THEN 1 ELSE 0 END AS skip_date",
        f"CASE WHEN max_c < {SKIP_PRICE_LO} OR min_c > {SKIP_PRICE_HI} "
        "THEN 1 ELSE 0 END AS skip_price",
        "n_rows",
    ).groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_zones"),
        F.sum("skip_date").cast("bigint").alias("skipped_date"),
        F.sum("skip_price").cast("bigint").alias("skipped_price"),
        F.sum(F.expr("CASE WHEN skip_date = 0 THEN n_rows ELSE 0 END"))
        .cast("bigint").alias("scanned_date"),
        F.sum(F.expr("CASE WHEN skip_price = 0 THEN n_rows ELSE 0 END"))
        .cast("bigint").alias("scanned_price"),
    )
    return per.crossJoin(F.broadcast(truth)).selectExpr(
        "layout", "n_zones", "skipped_date", "skipped_price",
        "scanned_date", "scanned_price", "match_date", "match_price",
        mround("CAST(scanned_date AS DOUBLE) / match_date", 4)
        + " AS read_amp_date",
        mround("CAST(scanned_price AS DOUBLE) / match_price", 4)
        + " AS read_amp_price",
    )


def _layout_skipping_sql() -> str:
    lo_d = f"CAST(datediff('day', DATE '1970-01-01', {SKIP_DATE_LO}) AS BIGINT)"
    hi_d = f"CAST(datediff('day', DATE '1970-01-01', {SKIP_DATE_HI}) AS BIGINT)"
    z = _zorder_expr("o_custkey % 1024",
                     "CAST(least(floor(o_totalprice / 1000), 1023) AS BIGINT)",
                     DUCK)
    return f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
         CAST({z} AS BIGINT) AS zkey
  FROM orders),
ranked AS (
  SELECT layout, rn, d, c FROM (
    SELECT 'natural' AS layout,
           row_number() OVER (ORDER BY o_orderkey) AS rn, d, c FROM base
    UNION ALL
    SELECT 'date_sorted',
           row_number() OVER (ORDER BY d, o_orderkey), d, c FROM base
    UNION ALL
    SELECT 'zorder',
           row_number() OVER (ORDER BY zkey, o_orderkey), d, c FROM base) u),
chunks AS (
  SELECT layout, (rn - 1) // {SKIP_CHUNK} AS chunk,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(d) AS min_d, max(d) AS max_d,
         min(c) AS min_c, max(c) AS max_c
  FROM ranked GROUP BY 1, 2),
truth AS (
  SELECT CAST(sum(CASE WHEN d BETWEEN {lo_d} AND {hi_d} THEN 1 ELSE 0 END) AS BIGINT) AS match_date,
         CAST(sum(CASE WHEN c BETWEEN {SKIP_PRICE_LO} AND {SKIP_PRICE_HI} THEN 1 ELSE 0 END) AS BIGINT) AS match_price
  FROM base),
per AS (
  SELECT layout,
         CAST(count(*) AS BIGINT) AS n_zones,
         CAST(sum(CASE WHEN max_d < {lo_d} OR min_d > {hi_d} THEN 1 ELSE 0 END) AS BIGINT) AS skipped_date,
         CAST(sum(CASE WHEN max_c < {SKIP_PRICE_LO} OR min_c > {SKIP_PRICE_HI} THEN 1 ELSE 0 END) AS BIGINT) AS skipped_price,
         CAST(sum(CASE WHEN NOT (max_d < {lo_d} OR min_d > {hi_d}) THEN n_rows ELSE 0 END) AS BIGINT) AS scanned_date,
         CAST(sum(CASE WHEN NOT (max_c < {SKIP_PRICE_LO} OR min_c > {SKIP_PRICE_HI}) THEN n_rows ELSE 0 END) AS BIGINT) AS scanned_price
  FROM chunks GROUP BY layout)
SELECT layout, n_zones, skipped_date, skipped_price,
       scanned_date, scanned_price, match_date, match_price,
       {mround('CAST(scanned_date AS DOUBLE) / match_date', 4)} AS read_amp_date,
       {mround('CAST(scanned_price AS DOUBLE) / match_price', 4)} AS read_amp_price
FROM per CROSS JOIN truth
"""


QUERIES["layout_skipping_audit"] = QuerySpec(
    layout_skipping_audit, _layout_skipping_sql(), "layout"
)


# ---------------------------------------------------------------------------
# Scalar subquery in the projection — round 10 (the subquery position the
# category's two existing entries don't cover: above_avg is WHERE-correlated,
# exists is semi-join; this one puts uncorrelated scalars in the SELECT list)
# ---------------------------------------------------------------------------


def subquery_select_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue with SELECT-list scalar subqueries: each group
    row carries the global max order price and its share of GLOBAL revenue
    — written through the SQL front door so Catalyst's scalar-subquery
    rewrite (subquery -> one-row broadcast) is what executes, the
    declarative twin of the engine's explicit crossJoin(broadcast(agg))
    pattern.

    Determinism: shares divide exact integer cent sums, rounded 1e-6.

    Scale: both subqueries fold to 1-row broadcasts reused across every
    group — no per-row re-evaluation (that is the decorrelation Catalyst
    guarantees for uncorrelated scalars)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_sss_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               (SELECT max(o_totalprice) FROM _sss_orders) AS global_max_price,
               floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS DOUBLE)
                     / (SELECT sum(CAST(floor(o_totalprice * 100 + 0.5)
                                        AS BIGINT)) FROM _sss_orders)
                     * 1000000 + 0.5) / 1000000 AS revenue_share
        FROM _sss_orders
        GROUP BY o_orderpriority
        """
    )


SUBQUERY_SELECT_SCALAR_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       (SELECT max(o_totalprice) FROM orders) AS global_max_price,
       floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / (SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FROM orders)
             * 1000000 + 0.5) / 1000000 AS revenue_share
FROM orders
GROUP BY o_orderpriority
"""


QUERIES["subquery_select_scalar"] = QuerySpec(
    subquery_select_scalar, SUBQUERY_SELECT_SCALAR_SQL, "subquery"
)
