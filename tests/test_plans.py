"""Physical-plan guardrails: assert the optimizations the 100 TB design
depends on actually appear in the plans (SURVEY §7 scale rules). These fail
loudly if a future change silently blocks pushdown, drops a broadcast, or
degrades top-k to a global sort."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_in_group
from tmapreduce_spark.operators.relational import (
    filter_project,
    join_broadcast_dim,
    q1_pricing_summary,
    topk_orders,
)
from tmapreduce_spark.operators.windows import window_rank_topn
from tmapreduce_spark.functions.dedup import _minhash_wide
from tmapreduce_spark.parity import SPARK, msum2
from tmapreduce_spark.plans import assert_plan_contains, assert_plan_lacks, physical_plan
from tmapreduce_spark.sources.bucketing import write_bucketed
from tmapreduce_spark.sources.catalog import load_table


def test_q1_pushes_filter_and_prunes_columns(spark):
    df = q1_pricing_summary(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: never reads the join keys it doesn't need
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_filter_project_pushdown(spark):
    df = filter_project(spark, SF_SMOKE)
    assert_plan_contains(df, "EqualTo(l_returnflag,R)", "GreaterThan(l_quantity,45.0)")


def test_dim_join_broadcasts(spark):
    df = join_broadcast_dim(spark, SF_SMOKE)
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "SortMergeJoin")


def test_topk_is_take_ordered_not_global_sort(spark):
    df = topk_orders(spark, SF_SMOKE)
    assert_plan_contains(df, "TakeOrderedAndProject")


def test_grouped_topn_has_windowgrouplimit(spark):
    """Spark 3.5+ pushes rn<=k into WindowGroupLimit — each partition keeps
    k rows per key before the full window sort."""
    df = window_rank_topn(spark, SF_SMOKE)
    assert_plan_contains(df, "WindowGroupLimit")


def test_minhash_has_partial_aggregation(spark):
    """The 16 min() aggregates must run map-side (partial_min) before the
    shuffle — the reference ships raw map output instead (worker.cc:311-315),
    which is the anti-pattern this plan avoids."""
    df = _minhash_wide(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "partial_min" in plan or "Partial" in plan


def test_aggregates_partial_before_shuffle(spark):
    df = q1_pricing_summary(spark, SF_SMOKE)
    plan = physical_plan(df)
    # HashAggregate appears twice: partial (before exchange) + final (after)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def bucket_order_tables(
    spark: SparkSession, sf_dir: str, base_path: str, num_buckets: int = 8
) -> tuple[str, str]:
    """Write orders and lineitem co-bucketed on the order key; returns the
    two table names. One-time ingest cost; afterwards every orderkey join or
    aggregation over them is exchange-free."""
    o_tbl, l_tbl = "orders_bkt", "lineitem_bkt"
    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        o_tbl, "o_orderkey", num_buckets, f"{base_path}/orders_bkt",
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        l_tbl, "l_orderkey", num_buckets, f"{base_path}/lineitem_bkt",
    )
    return o_tbl, l_tbl


def bucketed_order_revenue(spark: SparkSession, o_tbl: str, l_tbl: str) -> DataFrame:
    """Per-order revenue over the co-bucketed tables — the plan must contain
    a SortMergeJoin and ZERO Exchange nodes."""
    o = spark.table(o_tbl)
    l = spark.table(l_tbl)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.expr(msum2("l_extendedprice * (1 - l_discount)", SPARK)).alias("revenue"))
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed orders/lineitem: the orderkey join (and the groupBy on the
    same key) must run with ZERO Exchange nodes — the at-rest layout already
    partitioned the data. This is the 100 TB fact-fact join strategy."""
    o_tbl, l_tbl = bucket_order_tables(spark, SF_SMOKE, str(tmp_path), num_buckets=4)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_order_revenue(spark, o_tbl, l_tbl)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and it computes the same revenue as the plain-parquet join
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {l_tbl}")


def test_aqe_skew_join_splits(spark):
    """SCALE.md's join story claims AQE's OptimizeSkewedJoin absorbs hot
    keys — pin it the way pushdown/broadcast/bucketing are pinned (r09
    verdict #5): build a join where one key carries ~97% of the left side,
    force the sort-merge path, run it, and assert the FINAL adaptive plan
    marked the join skew=true (i.e. the oversized partition was split into
    parallel sub-joins instead of serializing on one task)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # shrink every size knob so a ~MB hot key registers as skew at test SF
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # Two hard-won preconditions (both bit during development):
        # 1. no downstream operator may REQUIRE the join key's hash
        #    distribution (a groupBy("k") after the join makes AQE skip the
        #    split, since splitting would break the agg's distribution and
        #    forceOptimizeSkewedJoin is off) — so the consumer is a GLOBAL
        #    aggregate;
        # 2. the skew decision reads COMPRESSED shuffle-partition bytes — a
        #    hot key whose rows are all-constant compresses below any
        #    threshold, so the hot rows carry an incompressible md5 pad.
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 100 < 97, F.lit(0))
            .otherwise(F.col("id") % 16)
            .alias("k"),
            F.col("id").alias("v"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 16).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        joined = left.join(right, "k").agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sv"),
            F.count("pad").alias("np"),
        )
        row = joined.collect()[0]
        # correctness under the split: every left row matches exactly once
        assert row["n"] == 300_000 and row["np"] == 300_000, row
        assert row["sv"] == 299_999 * 300_000 // 2, row
        final = physical_plan(joined, mode="simple")
        assert "isFinalPlan=true" in final, final
        assert "SortMergeJoin(skew=true)" in final, final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_bucketed_corpus_never_shuffles_for_external_queries(spark):
    """The 100 TB claim behind layout_ann_bucketed, second half: a FRESH
    query batch that is NOT part of the bucketed table (the production
    shape — new queries arrive after ingest) joins the at-rest corpus with
    the shuffle landing on the QUERY side only. The corpus scan must stay
    exchange-free (its bucketed layout already satisfies the join's
    distribution requirement); exactly one Exchange may sit on the query
    side of the SortMergeJoin."""
    from pyspark.sql import functions as F

    from tmapreduce_spark.functions.similarity import _bucket_spark, _quant_spark
    from tmapreduce_spark.sources.bucketing import (
        ANN_LAYOUT_BUCKETS,
        _session_layout,
        write_bucketed,
    )
    from tmapreduce_spark.sources.catalog import load_table

    _sf_tag, app, base = _session_layout(spark, SF_SMOKE)
    tbl = f"embeddings_annbkt_ext_{app}"
    corpus = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", F.expr(_quant_spark("embedding")).alias("qe"))
        .select("vec_id", "qe", F.expr(_bucket_spark()).alias("bucket"))
    )
    write_bucketed(
        corpus, tbl, "bucket", ANN_LAYOUT_BUCKETS, f"{base}/{tbl}",
    )
    # external query batch: a plain in-memory frame, NOT from the table
    ext = spark.range(8).select(
        (F.col("id") + 10_000).alias("query_id"),
        (F.col("id") % 7).alias("q_bucket"),
    )
    j = spark.table(tbl).join(
        ext.hint("MERGE"), F.col("bucket") == F.col("q_bucket")
    ).groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    # keep only the adaptive FINAL plan (the string repeats every node in
    # its == Initial Plan == section, which would double every count)
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in plan, plan
    # the corpus side: a bucketed scan with NO Exchange between it and the
    # join — split the plan at the join and check the bucketed-scan branch
    assert "Bucketed: true" in plan, plan
    join_idx = plan.index("SortMergeJoin")
    corpus_branch = plan[join_idx : plan.index("FileScan parquet")]
    assert "Exchange" not in corpus_branch, corpus_branch
    # the query side carries the one pre-join Exchange (its shuffle to the
    # corpus's bucket distribution); the post-join groupBy adds the other
    assert plan.count("Exchange hashpartitioning") == 2, plan
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_ann_bucketed_join_is_exchange_free(spark):
    """layout_ann_bucketed (r11 verdict #2): the at-rest LSH bucket layout
    must make candidate generation a bucket-to-bucket join with ZERO
    Exchange on either join side — both sides scan the bucketed table
    (Bucketed: true), the join is SortMergeJoin (not broadcast: broadcast
    would also be exchange-free at this SF but proves nothing about the
    layout), and the ONLY Exchange in the whole plan is the final per-query
    top-k window, which must carry the WindowGroupLimit pushdown."""
    from tmapreduce_spark.sources.bucketing import layout_ann_bucketed

    df = layout_ann_bucketed(spark, SF_SMOKE)
    simple = physical_plan(df, mode="simple")
    assert "SortMergeJoin" in simple, simple
    assert "BroadcastHashJoin" not in simple, simple
    assert simple.count("Exchange") - simple.count("ReusedExchange") == 1, simple
    assert "Exchange hashpartitioning(query_id" in simple, simple
    assert "WindowGroupLimit" in simple, simple
    formatted = physical_plan(df)
    assert "Bucketed: true" in formatted, formatted
    assert "SelectedBucketsCount: 8 out of 8" in formatted, formatted
    # query-set predicate reaches the bucketed scan
    assert "LessThan(vec_id,64)" in formatted, formatted


def test_bucketed_groupby_single_exchange(spark):
    """layout_bucketed_groupby: the per-orderkey aggregate over the bucketed
    table must be exchange-free (the at-rest layout already distributes by
    the key); the ONLY Exchange in the whole plan is the ~7-row order-size
    histogram rollup. This is the read-side dividend of paying the bucketed
    ingest once (r09 verdict #6)."""
    from tmapreduce_spark.sources.bucketing import layout_bucketed_groupby

    df = layout_bucketed_groupby(spark, SF_SMOKE)
    simple = physical_plan(df, mode="simple")
    assert simple.count("Exchange") - simple.count("ReusedExchange") == 1, simple
    formatted = physical_plan(df)
    assert "SelectedBucketsCount: 8 out of 8" in formatted, formatted


def test_tpch_extra_dims_broadcast(spark):
    """Snowflake-shaped queries must broadcast every dim chain — no
    SortMergeJoin should appear at this SF (facts would SMJ only at scale,
    chosen by AQE, never for the dims we broadcast explicitly)."""
    from tmapreduce_spark.operators.tpch_extra import (
        q7_volume_shipping,
        q9_product_profit,
    )

    for fn in (q7_volume_shipping, q9_product_profit):
        plan = physical_plan(fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


def test_q4_exists_is_semi_join(spark):
    """The EXISTS subquery must plan as a LeftSemi join (no duplication, no
    right-side columns materialized)."""
    from tmapreduce_spark.operators.tpch_extra import q4_order_priority

    assert "LeftSemi" in physical_plan(q4_order_priority(spark, SF_SMOKE))


def test_session_gap_exactly_at_boundary_merges(spark):
    """An event exactly `gap` seconds after the previous MERGES into the
    session (session_window's semantics, verified here so the oracle's
    strictly-greater break condition can't be 'fixed' to >= again)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:15:00"),  # exactly 900s later -> same session
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:15:00.000001"),  # 900.000001s -> new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    got = {
        (r["user_id"], r["n"])
        for r in df.groupBy(F.session_window("ts", "15 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_ngram_jaccard_reuses_shingle_exchange(spark):
    """dedup_ngram_jaccard derives pair generation AND hot-shingle arrays from
    the same (source, sh) aggregation; the corpus must be tokenized/shuffled
    once, with the second consumer reading the reused exchange. The marker
    only appears in the AQE final plan, so execute first."""
    from tmapreduce_spark.functions.dedup import dedup_ngram_jaccard

    df = dedup_ngram_jaccard(spark, SF_SMOKE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final


def test_ngram_jaccard_no_inlined_shingle_isnotnull(spark):
    """The shingle expression must stay statically NON-nullable: if it is
    nullable, dedup_ngram_jaccard's null-intolerant scoring arithmetic
    (sz_a + sz_b - icnt) makes Catalyst infer an isnotnull(size(<shingles>))
    constraint and push it into the documents scan Filter with the toks
    alias inlined — every toks[i] access then re-runs split(), re-tokenizing
    per shingle index, O(tokens^2) per document (measured 11x at sf0.1).
    The coalesce() wrapper in _SHINGLES_SPARK_TOKS prevents the inference;
    this pins that no shingle expression is ever evaluated inside a Filter
    condition."""
    from tmapreduce_spark.functions.dedup import dedup_ngram_jaccard

    df = dedup_ngram_jaccard(spark, SF_SMOKE)
    plan = physical_plan(df)
    for line in plan.splitlines():
        if line.strip().startswith("Condition"):
            assert "concat_ws" not in line, line


def test_rrf_hybrid_tokenizes_corpus_once(spark):
    """retrieval_rrf_hybrid must ride ONE per-doc materialization: the
    corpus tokenize+groupBy runs in the localCheckpoint job, so the final
    query plan's only `Generate` is the stack() unpivot of the tiny
    checkpointed wide table (workload-bounded — it scans ExistingRDD, not
    the corpus) and every consumer (corpus stats, the df aggregate, the
    query-term join) scans the same checkpointed RDD. The r07 shape — 3
    corpus-side Generates / 16 Exchanges from re-tokenizing per ranker
    plus a vestigial full-outer fusion join — is the regression this pins
    against. Both ranks are windows over one (query_id) exchange, so no
    SortMergeJoin appears either."""
    from tmapreduce_spark.functions.text import retrieval_rrf_hybrid

    import re

    df = retrieval_rrf_hybrid(spark, SF_SMOKE)
    plan = physical_plan(df)
    # exactly the stack() unpivot, duplicated across its two consumers
    # (the df aggregate and the scored join) — both over the checkpointed
    # per-doc table, never the corpus
    assert len(re.findall(r"\(\d+\) Generate", plan)) <= 2, plan
    assert "Scan parquet" not in plan, plan  # corpus never re-tokenized
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew-join evidence: a manufactured hot key (one join partition ~100x
    the median) must trigger AQE's OptimizeSkewedJoin in Spark 4.1 —
    observable ONLY in the post-execution adaptive plan as
    ``SortMergeJoin(skew=true)`` / ``AQEShuffleRead ... skewed``.

    Two non-obvious preconditions, pinned here so they aren't rediscovered:
    partition sizes are COMPRESSED map-output bytes (a constant-pad payload
    compresses below any threshold — use md5 chains), and the consumer after
    the join must not require the join key's partitioning (a same-key groupBy
    makes the rule bail to avoid an extra shuffle unless forced)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")

        pad = F.md5(F.col("id").cast("string"))
        for i in range(3):
            pad = F.concat(pad, F.md5((F.col("id") + i + 1).cast("string")))
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 100 == 0, (F.col("id") % 7) + 1)
            .otherwise(F.lit(0))
            .alias("k"),
            pad.alias("pad"),
        )
        right = spark.range(0, 700).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("rv")
        )
        agg = left.join(right, "k").agg(F.sum(F.length("pad")).alias("s"))
        [row] = agg.collect()
        assert row["s"] > 0
        final = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
        assert "skewed" in final, final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bigram_topk_partial_agg_and_group_limit(spark):
    """The LM n-gram pipeline must partial-aggregate bigram counts map-side
    and apply WindowGroupLimit for the per-source top-k (never a full sort of
    the count table)."""
    from tmapreduce_spark.functions.text import text_bigram_topk

    plan = physical_plan(text_bigram_topk(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "WindowGroupLimit" in plan


def test_fuzzy_join_is_equi_join_on_block_key(spark):
    """join_fuzzy_name must join on the brand blocking key (hash/merge equi
    join) with the Levenshtein predicate as a post-join filter — NEVER a
    nested-loop cross product over all part pairs."""
    from tmapreduce_spark.operators.advanced import join_fuzzy_name

    plan = physical_plan(join_fuzzy_name(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_upsert_latest_uses_window_group_limit(spark):
    from tmapreduce_spark.functions.text import pipeline_upsert_latest

    assert "WindowGroupLimit" in physical_plan(pipeline_upsert_latest(spark, SF_SMOKE))


def test_symdel_join_is_equi_join_on_variant(spark):
    """join_fuzzy_symdel must candidate-generate via an equi self-join on
    (brand, deletion-variant) — the lossless canopy — never a nested-loop
    over name pairs."""
    from tmapreduce_spark.operators.advanced import join_fuzzy_symdel

    plan = physical_plan(join_fuzzy_symdel(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the variant column must be INSIDE a join node's key list — a projected
    # variant with a brand-only join (per-brand all-pairs) must not pass
    assert _join_keys_contain(plan, "variant")


def _join_keys_contain(plan: str, key: str) -> bool:
    """True iff some equi-join node carries `key` inside its key lists —
    `key` merely appearing as a projected column elsewhere doesn't count."""
    import re

    return bool(
        # simple mode: `BroadcastHashJoin [user_id#2L, salt#14L], [...]`;
        # formatted mode: `Left keys [2]: [user_id#2L, salt#14L]`
        re.search(
            rf"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\]]*{key}", plan
        )
        or re.search(rf"(Left|Right) keys \[\d+\]: \[[^\]]*{key}", plan)
    )


def test_salted_join_keys_include_salt(spark):
    """The skew-salted join must key on (custkey, salt) — the whole point is
    that a hot user_id hashes to SALT_N different shuffle/broadcast keys. The
    assertion requires salt INSIDE the join node's key list; salt as a merely
    projected column would not pass."""
    from tmapreduce_spark.functions.scale import join_salted_skew

    plan = physical_plan(join_salted_skew(spark, SF_SMOKE))
    assert _join_keys_contain(plan, "salt")
    assert "CartesianProduct" not in plan


def test_inverted_index_aggregates_before_window(spark):
    """Postings must partial-aggregate (tok, doc_id) map-side BEFORE the df
    window — the window then runs over vocabulary-sized postings, not the
    exploded token stream."""
    from tmapreduce_spark.functions.text import text_inverted_index

    plan = physical_plan(text_inverted_index(spark, SF_SMOKE))
    assert "partial_count" in plan
    # window comes after the aggregate in the tree (appears earlier in text)
    assert plan.index("Window") < plan.index("HashAggregate")


def test_funnel_pushes_stage_filters(spark):
    """The funnel's single scan (one pass since r12 — the stage chain is
    stacked window aggregates, not per-stage joins) must push the
    three-type membership filter into the parquet scan, and only ONE
    events scan may appear — at 100 TB the pass reads only funnel-type
    rows, once."""
    from tmapreduce_spark.operators.relational import events_funnel

    plan = physical_plan(events_funnel(spark, SF_SMOKE))
    # Order-insensitive pushed-filter match (r12 advice): Spark's plan-string
    # formatting and value ordering for In(...) are not contract — assert the
    # predicate reached the scan and names all three funnel types.
    m = re.search(r"PushedFilters: \[(.*)\]", plan)
    assert m, plan
    assert re.search(r"In\(event_type, \[[^\]]*\]\)", m.group(1)), plan
    for v in ("click", "purchase", "view"):
        assert v in m.group(1), plan
    assert plan.count("events.parquet") == 1, plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL ORDER BY/LIMIT subquery must decorrelate to the
    grouped-top-n shape (WindowGroupLimit + equi-join) — never a per-customer
    re-execution (nested loop over the orders scan)."""
    from tmapreduce_spark.operators.advanced import join_lateral_topn

    plan = physical_plan(join_lateral_topn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_e2e_is_one_lazy_lineage(spark):
    """pipeline_corpus_e2e composes decontaminate + span-dedup + quality +
    chunk + pack as ONE DataFrame: building it must launch ZERO Spark jobs
    (no intermediate .count()/.collect()/checkpoint between stages), and the
    single physical plan must contain every stage's signature operator."""
    from tmapreduce_spark.functions.text import pipeline_corpus_e2e

    from tmapreduce_spark.sources.catalog import load_table

    # baseline: ONE load_table fires at most one parquet schema-read job
    per_load = len(
        jobs_in_group(
            spark, "corpus_e2e_load", lambda: load_table(spark, SF_SMOKE, "documents")
        )
    )

    built = []
    fired = len(
        jobs_in_group(
            spark,
            "corpus_e2e_build",
            lambda: built.append(pipeline_corpus_e2e(spark, SF_SMOKE)),
        )
    )
    df = built[0]
    # four components each load documents (schema reads only); anything more
    # would be an intermediate materialization between stages
    assert fired <= 4 * per_load, (
        f"e2e build fired {fired} jobs (> {4 * per_load} schema reads) — "
        "some stage materialized early"
    )

    plan = physical_plan(df)
    # anti-joins for decontamination + span-drop survive into one plan
    assert plan.count("LeftAnti") >= 2, plan[:2000]
    # two windows: span gaps-and-islands row_number + packing running sum
    assert plan.count("Window") >= 2
    # final per-bin rollup aggregates
    assert "HashAggregate" in plan


def test_pii_scrub_is_shuffle_free_scan(spark):
    """PII detection/redaction is a pure expression pipeline: zero Exchanges
    (and hence zero shuffles) in the plan — the linear-scan shape that just
    rides along at 100 TB."""
    from tmapreduce_spark.functions.text import pipeline_pii_scrub

    plan = physical_plan(pipeline_pii_scrub(spark, SF_SMOKE))
    assert "Exchange" not in plan, plan[:1500]


def test_domain_filter_is_broadcast_anti_join(spark):
    """The blocklist ships broadcast; the corpus must not shuffle for the
    anti join."""
    from tmapreduce_spark.functions.text import pipeline_domain_filter

    df = pipeline_domain_filter(spark, SF_SMOKE)
    assert_plan_contains(df, "BroadcastHashJoin", "LeftAnti")
    assert_plan_lacks(df, "SortMergeJoin")


def test_tfidf_topk_uses_window_group_limit(spark):
    """Per-doc top-k runs as WindowGroupLimit (rank pushed into the window),
    with the postings aggregated partially before their shuffle."""
    from tmapreduce_spark.functions.text import text_tfidf_topk

    df = text_tfidf_topk(spark, SF_SMOKE)
    assert_plan_contains(df, "WindowGroupLimit", "partial_count")


def test_repetition_stats_aggregates_partially(spark):
    """Both n-gram streams fold map-side before the (doc_id, n, gram)
    shuffle."""
    from tmapreduce_spark.functions.text import text_repetition_stats

    assert_plan_contains(text_repetition_stats(spark, SF_SMOKE), "partial_count")


def test_domain_mix_sort_is_column_pruned(spark):
    """sample_domain_mix's per-source rank window must sort a pruned
    (doc_id, source) projection — no scan in the plan may read `text`
    (documents' wide column), or the sort cost scales with document bodies
    instead of 16-byte rows."""
    import re

    from tmapreduce_spark.functions.text import sample_domain_mix

    plan = physical_plan(sample_domain_mix(spark, SF_SMOKE))
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas, plan[:800]
    assert all("text" not in s for s in schemas), schemas


def test_interval_join_is_bucketized_equi_join(spark):
    """events_interval_join must join on (user_id, bucket) — never fall back
    to a nested-loop/cartesian theta join on the range predicate. Asserted
    on the JOIN OPERATOR LINE of the simple-mode plan (expressions print
    inline there; formatted mode splits them into a details section where
    substring checks prove nothing)."""
    from tmapreduce_spark.operators.advanced import events_interval_join

    df = events_interval_join(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [
        ln for ln in plan.splitlines()
        if ("Join" in ln and "Exchange" not in ln) and "user_id" in ln
    ]
    assert join_lines, plan
    # the quantized bucket must be IN the join keys, not merely computed
    assert any("bucket" in ln for ln in join_lines), join_lines


def test_bloom_prefilter_runs_before_join(spark):
    """join_bloom_prefilter's fact side must carry the bitmap predicate
    (element_at bit test) BELOW the join — pruning at the scan, before any
    exchange. Simple-mode plan: operators print top-down with their
    expressions inline, so a Filter line appearing after the join line IS
    inside the join's subtree; a hoisted (post-join) filter would print
    above it."""
    from tmapreduce_spark.functions.scale import join_bloom_prefilter

    df = join_bloom_prefilter(spark, SF_SMOKE)
    lines = physical_plan(df, mode="simple").splitlines()
    join_idx = [
        i for i, ln in enumerate(lines)
        if any(t in ln for t in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    ]
    probe_idx = [i for i, ln in enumerate(lines) if "Filter" in ln and "element_at" in ln]
    assert join_idx and probe_idx, "\n".join(lines)
    assert probe_idx[0] > join_idx[0], "\n".join(lines)


def test_lm_score_model_join_broadcasts(spark):
    """text_ngram_lm_score joins the vocab-sized model back onto the token
    stream — must be a broadcast hash join (the token stream never
    re-shuffles on tok for the join)."""
    from tmapreduce_spark.functions.text import text_ngram_lm_score

    df = text_ngram_lm_score(spark, SF_SMOKE)
    assert_plan_contains(df, "BroadcastHashJoin")


def test_corpus_materialize_losers_broadcast_anti_join(spark):
    """dedup_corpus_materialize drops cluster losers with a LEFT ANTI join
    whose small side AQE converts to broadcast AT RUNTIME (the loser list
    flows out of a checkpointed RDD, so the static plan has no stats and
    conservatively picks SMJ — the runtime re-plan is the design). Assert on
    the final adaptive plan after execution."""
    from tmapreduce_spark.functions.dedup import dedup_corpus_materialize

    df = dedup_corpus_materialize(spark, SF_SMOKE)
    df.collect()  # a noop write would wrap df in a NEW query execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, final[:2000]


def test_heavy_hitters_confirm_join_broadcasts(spark):
    """The MG candidate set (≤ k per task) must join back to the token
    stream as a BROADCAST — reshuffling the corpus on token for ≤ K·P
    candidates would defeat the two-pass design."""
    from tmapreduce_spark.functions.text import text_heavy_hitters_mg

    df = text_heavy_hitters_mg(spark, SF_SMOKE)
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "SortMergeJoin")


def test_pmi_model_joins_broadcast_and_topk_is_take_ordered(spark):
    """Both unigram-model lookups and the totals row ride broadcasts (the
    bigram facts never reshuffle for model joins), and the top-50 plans as
    TakeOrderedAndProject, not a global sort."""
    from tmapreduce_spark.functions.text import text_pmi_topk

    df = text_pmi_topk(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_diag_key_skew_totals_broadcast_topk_take_ordered(spark):
    from tmapreduce_spark.operators.relational import diag_key_skew

    df = diag_key_skew(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_pairs_generated_in_group_no_join(spark):
    """SimHash candidate pairs must come from ONE (band, band_val)
    aggregation with in-group pair generation — no self-join at all (the
    r05 self-join shape built and probed a hash table of all 4n banded
    rows even with exchange reuse), and a fortiori no cartesian/nested-loop
    enumeration. The banded table is shuffled exactly once: the grouping
    exchange plus the final cross-band `distinct` are the only exchanges in
    the plan downstream of the signature aggregation."""
    from tmapreduce_spark.functions.dedup import dedup_simhash_pairs

    df = dedup_simhash_pairs(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "band" in plan and "band_val" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, "pairs must be generated in-group, not joined"
    assert plan.count("HashAggregate") >= 2, "band grouping must partial-agg"


def test_overlap_detectors_reuse_document_spread_exchange(spark):
    """The methods-overlap audit runs three detectors in ONE materializing
    action; the MinHash and SimHash pipelines start from the identical
    spread(documents, doc_id) repartition, so the executed adaptive plan
    must contain a ReusedExchange — documents is shuffled once for both
    detectors, not once per detector."""
    import pytest

    from tmapreduce_spark.functions.dedup import _overlap_tags

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("spread() fan-out (and so its reuse) needs >= 2 cores")
    tags = _overlap_tags(spark, SF_SMOKE)
    tags.collect()
    final = tags._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_pass_at_k_reuses_task_table_exchange(spark):
    """The three k-level aggregates must share ONE per-task reduction: the
    executed plan's identical groupBy(user_id) subplans dedupe via
    ReusedExchange, so raw events are scanned and shuffled once, not once
    per k."""
    from tmapreduce_spark.operators.analytics import eval_pass_at_k

    df = eval_pass_at_k(spark, SF_SMOKE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") + final.count("ReusedQueryStage") >= 2, final


def test_fertility_vocab_join_is_equi_join(spark):
    """The fertility audit joins the corpus token stream to the trained
    vocabulary on the word key — must be a hash/sort-merge equi-join,
    never a nested-loop enumeration."""
    from tmapreduce_spark.functions.text import tokenizer_apply_fertility

    plan = physical_plan(tokenizer_apply_fertility(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_existence_flag_join_aggregates_flag_side_first(spark):
    """The mark join's flag side must partial-aggregate (distinct custkeys)
    BEFORE the join so join input is customer-bounded, not order-bounded."""
    from tmapreduce_spark.operators.relational import join_existence_flag

    df = join_existence_flag(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "HashAggregate" in plan
    j = min(plan.find("SortMergeJoin") % 10**9, plan.find("BroadcastHashJoin") % 10**9)
    assert "HashAggregate" in plan[j:], "flag-side distinct must sit under the join"


def test_zorder_key_is_shuffle_free_scan(spark):
    from tmapreduce_spark.operators.advanced import layout_zorder_key

    df = layout_zorder_key(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # the interleave arithmetic stays codegen'd


def test_unpivot_is_expand_no_shuffle(spark):
    from tmapreduce_spark.operators.relational import reshape_unpivot

    df = reshape_unpivot(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_quantize_audit_is_shuffle_free(spark):
    from tmapreduce_spark.functions.similarity import embedding_quantize_int8

    df = embedding_quantize_int8(spark, SF_SMOKE)
    assert "Exchange" not in physical_plan(df)


def test_interval_mixed_two_equi_joins_no_theta(spark):
    """Two-level banding must compile to exactly two hash EQUI-joins (one
    per length class) under a union — never a theta/nested-loop join, and
    never more joins than levels."""
    from tmapreduce_spark.operators.advanced import events_interval_join_mixed

    df = events_interval_join_mixed(spark, SF_SMOKE)
    # "simple" mode: one line per node ("formatted" repeats each node in the
    # detail section, which would double the counts)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_joins = plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    )
    assert n_joins == 2, f"expected 2 equi-joins, saw {n_joins}:\n{plan}"
    assert "Union" in plan


def test_chunk_dedup_no_pair_join(spark):
    """Aligned-chunk dedup must stay linear: no join of any kind (the
    keep-first window + per-doc regroup are pure exchanges), and both
    shuffles present (chunk-hash window, doc_id groupBy)."""
    from tmapreduce_spark.functions.dedup import dedup_chunk_exact

    df = dedup_chunk_exact(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    for j in ("Join", "CartesianProduct"):
        assert j not in plan, plan
    assert "Window" in plan


def test_contamination_report_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast — the corpus side never
    shuffles on the shingle hash for the semi-join."""
    from tmapreduce_spark.functions.text import pipeline_contamination_report

    df = pipeline_contamination_report(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_ivf_pq_candidate_join_is_broadcast(spark):
    """IVFPQ's candidate lookup joins the encoded corpus against the tiny
    broadcast probe list — never a shuffled or nested-loop join of the
    corpus."""
    from tmapreduce_spark.functions.scale import ann_ivf_pq_topk

    df = ann_ivf_pq_topk(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_user_path_topk_is_take_ordered_single_window(spark):
    """Journey trigrams must come from ONE user window (two lead() calls
    share the frame — no 3-way self-join) and the top-k must be
    TakeOrderedAndProject, never a global sort."""
    from tmapreduce_spark.operators.advanced import events_user_path_topk

    df = events_user_path_topk(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan


def test_streak_longest_single_shuffle_key_no_join(spark):
    """Gaps-and-islands streaks: everything is keyed on user_id — no join
    anywhere, and every exchange hashes on user_id (distinct-days, window,
    streak groupBy, argmax all reuse the partitioning)."""
    from tmapreduce_spark.operators.advanced import window_streak_longest

    df = window_streak_longest(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line, line


def test_weighted_median_two_level_sweep_shape(spark):
    """r06 verdict #6: the running-weight cumsum is TWO-LEVEL — the
    fact-sized window partitions on (l_returnflag, pb) so the skewed
    3-key single-flag window never appears over the facts; bucket offsets
    come back via a broadcast join. Pin: (a) a window spec keyed on both
    flag AND the price bucket, (b) a BroadcastHashJoin, (c) no fact-side
    window partitioned on l_returnflag alone (only the tiny offsets table
    may window on the bare flag, and it sits under the broadcast)."""
    from tmapreduce_spark.operators.relational import agg_weighted_median

    df = agg_weighted_median(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    # the fact-side running sum windows on BOTH keys
    assert any(
        "windowspecdefinition(l_returnflag" in ln and ", pb#" in ln
        for ln in plan.splitlines()
        if "Window" in ln
    ), plan
    # exactly one exchange hashes the composite fact key
    assert any(
        "Exchange hashpartitioning(l_returnflag" in ln and "pb#" in ln
        for ln in plan.splitlines()
    ), plan


def test_ewma_single_shuffle_no_join(spark):
    """Truncated EWMA: the bounded collect_list frame and the ordering
    window share the user_id partitioning — exactly one exchange, no join,
    no global sort."""
    from tmapreduce_spark.operators.windows import window_ewma

    df = window_ewma(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cusum_windows_share_user_partitioning(spark):
    """All three CUSUM windows key on user_id: every hash exchange in the
    plan hashes user_id, and no join appears."""
    from tmapreduce_spark.operators.windows import window_cusum_detect

    df = window_cusum_detect(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line, line


def test_markov_partial_aggregation_tiny_output(spark):
    """Transition counts must partial-aggregate before the (prev, next)
    shuffle: two HashAggregates around the exchange, lag shares the
    user_id window shuffle."""
    from tmapreduce_spark.operators.relational import events_markov_transitions

    df = events_markov_transitions(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_quality_classifier_codegen_no_python_udf(spark):
    """The hashed-linear classifier is pure built-ins: no BatchEvalPython
    (row-at-a-time UDF) and no Arrow exchange in the plan; one groupBy on
    doc_id with partial aggregation."""
    from tmapreduce_spark.functions.text import text_quality_classifier

    df = text_quality_classifier(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_seqlen_histogram_never_explodes_tokens(spark):
    """The length histogram uses size(split(...)) — no Generate (explode)
    node may appear; aggregation is partial (map-side collapse to ≤64
    buckets per source)."""
    from tmapreduce_spark.functions.text import pipeline_seqlen_histogram

    df = pipeline_seqlen_histogram(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Generate" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_embedding_dim_stats_partial_agg_after_explode(spark):
    """Per-dimension stats: posexplode fans out, but the 64-key groupBy
    must partial-aggregate map-side (two HashAggregates around one
    exchange) so only ≤64 rows per partition ever shuffle."""
    from tmapreduce_spark.functions.similarity import embedding_dim_stats

    df = embedding_dim_stats(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Generate" in plan  # the posexplode
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rfm_ntile_windows_over_reduced_user_table(spark):
    """RFM: the three ntile windows run AFTER the user-level groupBy — the
    per-user aggregate appears below the windows, and the global-max join
    is a broadcast, never a sort-merge."""
    from tmapreduce_spark.operators.relational import events_rfm_segments

    df = events_rfm_segments(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_attribution_zero_joins_single_user_shuffle(spark):
    """Last-touch attribution must stay join-free — one user_id window
    carries the latest touch; exactly one hash exchange."""
    from tmapreduce_spark.operators.relational import events_attribution_last_touch

    df = events_attribution_last_touch(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cohort_ltv_running_sum_over_reduced_table(spark):
    """Cohort LTV: the cumulative window runs over the (cohort, week)
    aggregate — the plan's final window sits above a HashAggregate, and
    no join appears anywhere."""
    from tmapreduce_spark.operators.relational import events_cohort_ltv

    df = events_cohort_ltv(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert "HashAggregate" in plan and "Window" in plan


def test_minhash_est_joins_candidates_only(spark):
    """The estimator audit joins signatures to the CANDIDATE pair set via
    hash equi-joins — no nested-loop / cartesian anywhere."""
    from tmapreduce_spark.functions.dedup import dedup_minhash_est_vs_exact

    df = dedup_minhash_est_vs_exact(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zscore_rolling_single_user_shuffle_no_join(spark):
    from tmapreduce_spark.operators.windows import window_zscore_rolling

    df = window_zscore_rolling(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_nearest_zero_joins_shared_frames(spark):
    """Both direction frames must share ONE user_id window shuffle — no
    join, one exchange."""
    from tmapreduce_spark.operators.advanced import join_asof_nearest

    df = join_asof_nearest(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cross_source_matrix_in_group_pairs_no_self_join(spark):
    """Pairs come from in-group emission over the chunk-hash groupBy — no
    self-join on the chunk table (only aggregates + one final tiny
    groupBy)."""
    from tmapreduce_spark.functions.dedup import dedup_cross_source_matrix

    df = dedup_cross_source_matrix(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # two partial+final pairs


def test_multi_touch_range_frame_single_shuffle(spark):
    """Multi-touch attribution: the RANGE frame and the explode share one
    user_id shuffle; no join anywhere."""
    from tmapreduce_spark.operators.relational import events_attribution_multi_touch

    df = events_attribution_multi_touch(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_kmeans_iterate_partial_agg_and_broadcast_old(spark):
    """Lloyd recompute: the (centroid, dim) groupBy partial-aggregates
    (≤512 rows shuffle) and the old-centroid join is a broadcast."""
    from tmapreduce_spark.functions.scale import embedding_kmeans_iterate

    df = embedding_kmeans_iterate(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_market_basket_in_group_pairs_broadcast_counts(spark):
    """Basket pairs come from in-group emission (no self-join on items);
    the part-count and total joins are broadcasts; and the three
    consumers of the basket aggregate share ONE exchange — AQE dedupes the
    identical stages at runtime (post-execution ReusedExchange), so
    lineitem is scanned once, not three times."""
    from tmapreduce_spark.operators.relational import orders_market_basket

    df = orders_market_basket(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_gini_rank_window_shares_group_partitioning(spark):
    """The rank window and the final groupBy both key on o_orderpriority —
    one hash exchange total, no join."""
    from tmapreduce_spark.operators.relational import agg_gini_concentration

    df = agg_gini_concentration(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hilbert_key_is_shuffle_free_scan(spark):
    """The Hilbert key is per-row arithmetic — zero exchanges in the
    plan, exactly like the Z-order twin."""
    from tmapreduce_spark.operators.advanced import layout_hilbert_key

    df = layout_hilbert_key(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Exchange" not in plan, plan


def test_dsir_model_joins_are_broadcast(spark):
    """DSIR weighting: the (single, since r12) hashed-count model histogram
    and the totals row join as broadcasts — the raw token stream never
    shuffles for the model. Exactly ONE BroadcastHashJoin: a second one
    reappearing means the model split back into per-table aggregations
    that each re-hash the corpus."""
    from tmapreduce_spark.functions.text import pipeline_importance_weights

    df = pipeline_importance_weights(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_drift_is_tiny_partial_aggregate(spark):
    """Drift monitor: conditional sums partial-aggregate; no join besides
    the broadcast totals row."""
    from tmapreduce_spark.operators.relational import diag_distribution_drift

    df = diag_distribution_drift(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_semdedup_no_cartesian_all_arrow(spark):
    """SemDeDup: pair scoring happens inside the per-cluster Arrow groups
    — no cartesian/nested-loop join in the plan."""
    from tmapreduce_spark.functions.scale import dedup_semdedup

    df = dedup_semdedup(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan, plan


def test_skyline_broadcasts_prior_months_no_global_window(spark):
    """The pareto sweep must keep the big side partitioned: the prior-month
    max joins via broadcast, and the only unpartitioned window runs over the
    per-month AGGREGATE (post-HashAggregate), never the raw orders."""
    from tmapreduce_spark.operators.analytics import skyline_pareto_orders

    df = skyline_pareto_orders(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_vocab_oov_topk_heap_and_broadcast_join(spark):
    """Vocabulary selection must plan TakeOrderedAndProject (per-partition
    heaps, no global sort) and the vocab join must broadcast — the corpus
    side never shuffles for the join."""
    from tmapreduce_spark.functions.text import text_vocab_oov_rate

    df = text_vocab_oov_rate(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_active_users_explodes_reduced_userday_only(spark):
    """The WAU fan-out must sit ABOVE the user-day reduction: Generate
    (explode) appears after a HashAggregate/Window, and the raw events are
    never exploded — exactly one explode in the whole plan."""
    from tmapreduce_spark.operators.analytics import events_active_users_rolling

    df = events_active_users_rolling(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert plan.count("Generate explode") == 1, plan
    gen_pos = plan.index("Generate explode")
    assert "Window" in plan[gen_pos:], "explode must consume the lead() output"


def test_drawdown_single_user_shuffle_no_join(spark):
    """Running sum, running max, and the final groupBy share ONE user_id
    hash partitioning; no join anywhere."""
    from tmapreduce_spark.operators.analytics import events_drawdown_max

    df = events_drawdown_max(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_burstiness_single_user_shuffle(spark):
    """lag() and the moment aggregation share one user_id shuffle."""
    from tmapreduce_spark.operators.analytics import events_gap_burstiness

    df = events_gap_burstiness(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_referential_audit_broadcasts_parents(spark):
    """Each FK edge's anti-join must broadcast the parent key column —
    child payloads never shuffle for the orphan check."""
    from tmapreduce_spark.operators.analytics import diag_referential_orphans

    df = diag_referential_orphans(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_equidepth_cuts_are_plan_literals_no_join(spark):
    """r08: the 9 resolved cuts are baked into the bin expression as exact
    double literals — the binning pass has NO join of any kind (the former
    crossJoin(broadcast(1-row cuts df)) shape is the regression this pins
    against) and no global Sort over the scan."""
    from tmapreduce_spark.operators.analytics import agg_equidepth_histogram

    df = agg_equidepth_histogram(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan, plan
    assert "Sort" not in plan, plan


def test_open_daily_windows_over_reduced_delta_table(spark):
    """The sweep's running sum must sit above the per-day HashAggregate —
    a Window whose input is the reduced delta table, and exactly one
    single-partition exchange (the calendar-sized window), never a join."""
    from tmapreduce_spark.operators.analytics import lineitem_open_daily

    df = lineitem_open_daily(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert "HashAggregate" in plan and "Window" in plan


def test_ols2_is_single_partial_agg_pass(spark):
    """All 9 sufficient statistics fold in one partial-aggregation pass:
    exactly one hash exchange, no join, no window."""
    from tmapreduce_spark.operators.analytics import agg_ols_two_feature

    df = agg_ols_two_feature(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_rolling_median_single_user_shuffle(spark):
    """collect_list frame + median selection share one user_id shuffle."""
    from tmapreduce_spark.operators.analytics import window_rolling_median

    df = window_rolling_median(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_snapshot_asof_pushes_cutoff_and_group_limits(spark):
    """The as-of cutoff must reach the parquet scan as a pushed filter and
    the rn=1 must plan WindowGroupLimit."""
    from tmapreduce_spark.operators.analytics import events_snapshot_asof

    df = events_snapshot_asof(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "PushedFilters" in plan


def test_ks_drift_value_windows_are_bucket_partitioned(spark):
    """The KS running CDF must never run an unpartitioned window over the
    per-value axis: the in-bucket running sums are PARTITIONED by the
    prefix bucket (the only unpartitioned window is over the tiny
    range-bounded bucket table), and no pair enumeration appears."""
    from tmapreduce_spark.operators.analytics import diag_ks_drift

    df = diag_ks_drift(spark, SF_SMOKE)
    plan = physical_plan(df)
    import re

    assert "CartesianProduct" not in plan
    # the per-value running-sum window carries the bk partition key
    assert re.search(r"\[bk#\d+L?\], \[vq#", plan), plan


def test_winnowing_is_map_only(spark):
    """Winnowing fingerprints are pure per-row array algebra: no window,
    no aggregation, no join — the only exchange allowed is the guarded
    spread() fan-out of the compact scan."""
    from tmapreduce_spark.functions.dedup import dedup_winnowing_fingerprint

    df = dedup_winnowing_fingerprint(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # spread repartition only (tree + detail)


def test_change_point_windows_share_one_user_shuffle(spark):
    """All change-point windows (running sum, row_number, full-partition
    totals) key on user_id — one hashpartitioning exchange feeds them; the
    argmax joins broadcast the tiny per-user tables."""
    from tmapreduce_spark.operators.analytics import events_change_point

    df = events_change_point(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_sessionized_funnel_keeps_session_key_partitioning(spark):
    """The three funnel-stage aggregates and their joins all key on
    (user_id, session_id): no cartesian/nested-loop anywhere, and the
    stage joins stay hash joins."""
    from tmapreduce_spark.operators.analytics import events_sessionized_funnel

    df = events_sessionized_funnel(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_growth_accounting_windows_are_user_partitioned(spark):
    """Growth accounting's lag/min/lead windows all carry the user_id
    partition key — never an unpartitioned window over user-weeks."""
    import re

    from tmapreduce_spark.operators.analytics import events_growth_accounting

    df = events_growth_accounting(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # every windowspecdefinition in the optimized plan partitions by user_id
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", logical)
    assert specs and all("user_id" in s for s in specs), specs


def test_abc_classification_two_level_sweep_shape(spark):
    """r06 verdict #6: the Pareto cumsum over the per-part aggregate is
    two-level — the per-bucket window partitions on the log2 range key rb
    (never an unpartitioned window over the whole dimension), and the
    <=64-row bucket offsets come back via a broadcast join."""
    from tmapreduce_spark.operators.analytics import agg_abc_classification

    df = agg_abc_classification(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert any(
        "windowspecdefinition(rb#" in ln
        for ln in plan.splitlines()
        if "Window" in ln
    ), plan


def test_scalar_variant_scan_prunes_to_three_columns(spark):
    """r06 verdict #4: the variant construct reads ONLY its three source
    columns — projection pruning must reach the parquet scan."""
    import re

    from tmapreduce_spark.operators.relational import scalar_variant

    df = scalar_variant(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, plan
    for ln in scans:
        m = re.search(r"ReadSchema: struct<([^>]*)", ln)
        assert m, ln
        cols = {c.split(":")[0] for c in m.group(1).split(",") if ":" in c}
        assert cols <= {"props", "user_id", "event_type"}, cols


def test_percentiles_price_is_distributed_not_value_collecting(spark):
    """r07: exact interpolated percentiles via the two-level CDF — the plan
    must NOT contain the value-collecting ObjectHashAggregate the builtin
    percentile() aggregate compiles to (one task holds a whole group's
    values), and the rank lookup must be a broadcast join."""
    from tmapreduce_spark.operators.advanced import percentiles_price

    df = percentiles_price(spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "ObjectHashAggregate" not in plan, plan
    assert "percentile(" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_all_22_plans_are_smj_free_at_sf01(spark):
    """r10 verdict #6: the 22 TPC-H shapes must keep every dim chain
    broadcast AT sf0.1 (not just the smoke SF the other pins use) — no
    SortMergeJoin anywhere, and every multi-table plan carries at least
    one BroadcastHashJoin. q2's min-cost re-join was the one SMJ at sf0.1
    (compound (partkey, cost) keys); it now joins on partkey alone and
    broadcasts the part-dimension-scale min-cost table."""
    import os

    from tmapreduce_spark.catalog import build_catalog

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        import pytest

        pytest.skip("sf0.1 fixtures not present")
    cat = build_catalog()
    single_table = {"q1_pricing_summary", "q6_forecast_revenue"}
    names = sorted(n for n in cat if n[0] == "q" and n[1].isdigit())
    assert len(names) == 22
    for n in names:
        plan = physical_plan(cat[n].fn(spark, sf01))
        assert "SortMergeJoin" not in plan, (n, plan)
        assert "CartesianProduct" not in plan, n
        if n not in single_table:
            assert "BroadcastHashJoin" in plan, n


def test_salted_skew_agg_keeps_two_level_shape_under_aqe(spark):
    """r10 verdict #6: the salted-skew pattern's whole value is the
    TWO-LEVEL aggregate — partial sums on the salted (key, salt) spread,
    final sums after the unsalted regroup — and AQE must not replan it
    away. Pin, in the FINAL adaptive plan: salt inside the join keys, and
    both HashAggregate levels (partial + final) around the regroup
    exchange."""
    import re

    from tmapreduce_spark.functions.scale import join_salted_skew

    saved = spark.conf.get("spark.sql.adaptive.enabled", None)
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        df = join_salted_skew(spark, SF_SMOKE)
        assert df.count() > 0
        final = df._jdf.queryExecution().executedPlan().toString()
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.adaptive.enabled")
        else:
            spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert _join_keys_contain(final, "salt"), final
    # two-level aggregate: a partial-mode HashAggregate below the exchange
    # and a final-mode one above it (Spark prints keys=... functions=
    # [partial_count... / count...])
    assert re.search(r"HashAggregate.*partial_count", final), final
    finals = [
        ln for ln in final.splitlines()
        if "HashAggregate" in ln and "partial_" not in ln
    ]
    assert finals, final
    assert "Exchange" in final
