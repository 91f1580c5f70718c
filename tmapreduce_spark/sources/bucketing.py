"""Bucketed at-rest layout: pre-shuffled tables so repeated joins and
aggregations on the bucket key run with NO exchange at query time.

This is the single biggest at-rest lever for the 100 TB fact-fact join
(orders ⋈ lineitem on orderkey): bucket BOTH tables into the same number of
buckets on the join key when they are written, and every subsequent join on
that key is bucket-to-bucket — Spark plans a SortMergeJoin with zero
Exchange nodes, so the 100 TB shuffle is paid once at ingest instead of on
every query. (The reference has no storage layer at all — payloads live in
the master's RAM and every job re-ships them, ``src/tmapreduce/job.h:86-88``.)

Rules that make bucketing effective (asserted by tests/test_plans.py):
- same bucket count on both sides (or a divisor — Spark 3+ can coalesce);
- ``sortBy`` the bucket key inside each bucket so SMJ skips its sort;
- bucket count chosen for target-SF bucket size ~128-256 MB; at 100 TB with
  ~1000 executors, thousands of buckets (it also caps join parallelism).
"""

from __future__ import annotations

import re

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

from tmapreduce_spark.sources.catalog import load_table


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a parquet table bucketed (and bucket-sorted) on
    ``key`` at an explicit external ``path``."""
    writer = df.write.mode("overwrite").format("parquet").option("path", path)
    writer = writer.bucketBy(num_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table_name)


def _session_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """``(sf_tag, app, base)`` for a catalog entry's bucketed tables. ``base``
    lies under the session's own scratch root (``SparkFiles`` root directory,
    created under ``spark.local.dir``), which Spark deletes when the session
    stops; the session-catalog tables die with the session's metastore."""
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    app = re.sub(r"[^a-zA-Z0-9_]", "_", spark.sparkContext.applicationId)
    return sf_tag, app, f"{SparkFiles.getRootDirectory()}/tmrs_bucketed/{sf_tag}"


# ---------------------------------------------------------------------------
# Catalog entry: the bucketed fact-fact join, driver-proven — round 9
# ---------------------------------------------------------------------------

from tmapreduce_spark.catalog import QuerySpec  # noqa: E402
from tmapreduce_spark.parity import SPARK, msum2  # noqa: E402


def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the at-rest bucketing strategy THROUGH the
    oracle gate: orders and lineitem are written co-bucketed on the order
    key, the fact-fact join + per-priority rollup runs over the bucketed
    tables (SortMergeJoin with ZERO Exchange on the join key —
    tests/test_plans.py pins the plan; broadcast is disabled for the join
    so the bucket-to-bucket path is what actually executes), and the
    result is hash-checked against a plain-parquet DuckDB join. The entry
    deliberately pays the one-time ingest inside the timed window — at
    100 TB that cost amortizes over every subsequent orderkey join, which
    is the whole argument for bucketing.

    Exactness: revenue is msum2 (integer micro, order-free).

    Concurrency (r09 ADVICE): the table names and the on-disk path both
    carry the session's applicationId, so parallel sessions (bench + pytest,
    or two drivers) at the same SF never race on the saveAsTable overwrite
    of a shared name/path; re-runs within one session overwrite their own
    tables idempotently."""
    from pyspark.sql import functions as F

    sf_tag, app, base = _session_layout(spark, sf_dir)
    o_tbl, l_tbl = f"orders_bkt_{sf_tag}_{app}", f"lineitem_bkt_{sf_tag}_{app}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        o_tbl, "o_orderkey", 8, f"{base}/{o_tbl}",
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        l_tbl, "l_orderkey", 8, f"{base}/{l_tbl}",
    )
    j = spark.table(l_tbl).join(
        spark.table(o_tbl).hint("MERGE"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.expr(msum2("l_extendedprice * (1 - l_discount)", SPARK)).alias(
            "revenue"
        ),
    )


from tmapreduce_spark.parity import DUCK  # noqa: E402

LAYOUT_BUCKETED_JOIN_SQL = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       {msum2("l_extendedprice * (1 - l_discount)", DUCK)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""

def layout_bucketed_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side dividend of the bucketed layout (r09 verdict #6): an
    aggregation ON THE BUCKET KEY over the same bucketed lineitem table
    `layout_bucketed_join` writes runs with ZERO Exchange below the
    per-orderkey HashAggregate — the at-rest layout already distributes
    rows by the grouping key, so Spark's EnsureRequirements inserts no
    shuffle (tests/test_plans.py pins exactly ONE Exchange in the whole
    plan: the tiny second-level histogram rollup). The reference analogue
    is the ingest-sort amortization argument (``master.cc:736-738``): pay
    the organize-by-key cost once at write time, then every downstream
    per-key pass is local.

    Output: the order-size histogram — for each per-order item count, how
    many orders have it and their total revenue. Level 1 keeps EXACT int64
    micro-units per order; level 2 sums those micros (still exact) and only
    the final presentation divides, so the result is reduction-order-free.

    Scale: at 100 TB the per-orderkey aggregate is the expensive pass and
    it is exchange-free; the histogram shuffle moves one row per distinct
    order size (~7 at TPC-H)."""
    from pyspark.sql import functions as F

    from tmapreduce_spark.parity import cents

    sf_tag, app, base = _session_layout(spark, sf_dir)
    l_tbl = f"lineitem_bkt_gb_{sf_tag}_{app}"
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        l_tbl, "l_orderkey", 8, f"{base}/{l_tbl}",
    )
    per_order = (
        spark.table(l_tbl)
        .groupBy("l_orderkey")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.expr(
                f"sum({cents('l_extendedprice * (1 - l_discount)')})"
            ).cast("bigint").alias("rev_micro"),
        )
    )
    return per_order.groupBy("n_items").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.expr(_micro_to_money("sum(rev_micro)", SPARK)).alias("revenue"),
    )


def _micro_to_money(s: str, dialect: str) -> str:
    """Present an exact int64 micro-unit sum at 2 decimals as DOUBLE —
    msum2's rounding tail applied to an already-summed micro column (same
    half-away-from-zero guard, same integer division)."""
    from tmapreduce_spark.parity import _idiv

    d = _idiv(dialect)
    return (
        f"CAST(CASE WHEN {s} >= 0 THEN ({s} + 5000) {d} 10000 "
        f"ELSE -((-{s} + 5000) {d} 10000) END AS DOUBLE) / 100"
    )


def _bucketed_groupby_sql() -> str:
    from tmapreduce_spark.parity import cents

    return f"""
WITH per_order AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum({cents('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
           AS rev_micro
  FROM lineitem GROUP BY l_orderkey)
SELECT n_items,
       CAST(count(*) AS BIGINT) AS n_orders,
       {_micro_to_money('sum(rev_micro)', DUCK)} AS revenue
FROM per_order GROUP BY n_items
"""


# ---------------------------------------------------------------------------
# Catalog entry: the at-rest ANN bucket layout — round 12
# ---------------------------------------------------------------------------

# Query set size for the bucketed-layout ANN entry. Deliberately LARGER than
# the 5-query model-side set that ann_lsh_topk collects to the driver: this
# entry exists to prove the large-query-set plan its docstring promises
# (functions/scale.py), where collecting queries driver-side stops scaling
# and the bucket id becomes a materialized equi-join key instead.
N_ANN_BUCKETED_QUERIES = 64
ANN_LAYOUT_BUCKETS = 8


def layout_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over an at-rest LSH-bucketed corpus layout — the large-query-set
    scale path that ``ann_lsh_topk``'s docstring names (functions/scale.py):
    instead of collecting the query set to the driver and probing buckets
    inside one Arrow scan (right for a handful of queries), the corpus is
    WRITTEN bucketed on its hyperplane-LSH bucket id, and candidate
    generation becomes a bucket-to-bucket equi-join that runs with ZERO
    Exchange on either join side (tests/test_plans.py pins SortMergeJoin,
    no broadcast, and exactly one Exchange in the whole plan — the final
    per-query top-k window).

    Pipeline: quantize embeddings to the shared int64 grid and compute the
    bucket id JVM-side (exact integer plane dots — the same bits as
    similarity._buckets_of and the DuckDB oracle), write the corpus
    bucketed+sorted on ``bucket``; the query set (vec_id <
    N_ANN_BUCKETED_QUERIES) is a filter of the SAME bucketed table, so both
    join sides inherit the at-rest distribution. Candidates are same-bucket
    pairs (probe_bits=0 semantics); scoring is the exact quantized cosine
    (int64 zip_with dot, sqrt of exact int64 norms) on the 1e-6 grid;
    ranking is the shared top-k window with the neighbor_id tiebreak.

    Scale: at 100 TB the bucketed write is the one-time ingest shuffle, paid
    once and amortized over every query batch (the layout_bucketed_join
    argument applied to similarity search); each query batch then joins
    bucket-to-bucket with no corpus shuffle and no driver-side query model.
    Bucket-population skew (LSH buckets are never uniform) is AQE's skew
    problem at the join, not a layout problem. The entry pays the ingest
    inside its timed window, exactly like the other layout_* entries.

    The reference has no similarity surface at all; this extends the engine
    along SURVEY §2B's LLM-pipeline axis (its payloads live in master RAM,
    ``src/tmapreduce/job.h:86-88`` — no at-rest layout exists to compare)."""
    from pyspark.sql import functions as F

    from tmapreduce_spark.functions.similarity import (
        _bucket_spark,
        _quant_spark,
        topk_ranked,
    )

    sf_tag, app, base = _session_layout(spark, sf_dir)
    tbl = f"embeddings_annbkt_{sf_tag}_{app}"

    corpus = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr(_quant_spark("embedding")).alias("qe"),
        )
        .select(
            "vec_id",
            "qe",
            F.expr(_bucket_spark()).alias("bucket"),
            # deliberately a HOF: a single simple-lambda fold beat the
            # 64-term GetArrayItem unroll by ~40% in the r13 micro-A/B
            F.expr(
                "aggregate(qe, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
            ).alias("qdot"),
        )
    )
    write_bucketed(corpus, tbl, "bucket", ANN_LAYOUT_BUCKETS, f"{base}/{tbl}")

    t = spark.table(tbl)
    q = (
        t.filter(F.col("vec_id") < N_ANN_BUCKETED_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qe").alias("q_qe"),
            F.col("qdot").alias("q_qdot"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    j = t.join(
        q.hint("MERGE"),
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    scored = j.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "floor(CAST(aggregate(zip_with(qe, q_qe, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) "
            "/ (sqrt(CAST(qdot AS DOUBLE)) * sqrt(CAST(q_qdot AS DOUBLE))) "
            "* 1000000 + 0.5) / 1000000"
        ).alias("cosine"),
    )
    return topk_ranked(scored)


def _layout_ann_bucketed_sql() -> str:
    from tmapreduce_spark.functions.similarity import (
        TOP_K,
        _bucket_duck,
        _qdot_duck,
        _quant_duck,
    )

    return f"""
WITH e AS (
  SELECT vec_id, {_quant_duck('embedding')} AS qe FROM embeddings),
eb AS (
  SELECT vec_id, qe, ({_bucket_duck()}) AS bucket,
         sqrt(CAST({_qdot_duck('qe', 'qe')} AS DOUBLE)) AS nrm
  FROM e),
q AS (SELECT vec_id AS query_id, qe AS q_qe, bucket AS q_bucket, nrm AS q_norm
      FROM eb WHERE vec_id < {N_ANN_BUCKETED_QUERIES}),
scored AS (
  SELECT query_id, eb.vec_id AS neighbor_id,
         floor((CAST({_qdot_duck('q_qe', 'eb.qe')} AS DOUBLE) / (q_norm * eb.nrm))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM eb JOIN q ON eb.bucket = q.q_bucket AND eb.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


QUERIES: dict[str, QuerySpec] = {
    "layout_bucketed_join": QuerySpec(
        layout_bucketed_join, LAYOUT_BUCKETED_JOIN_SQL, "layout"
    ),
    "layout_bucketed_groupby": QuerySpec(
        layout_bucketed_groupby, _bucketed_groupby_sql(), "layout"
    ),
    "layout_ann_bucketed": QuerySpec(
        layout_ann_bucketed, _layout_ann_bucketed_sql(), "layout"
    ),
}
