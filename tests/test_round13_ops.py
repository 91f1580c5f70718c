"""Round-13 optimization pins.

The residue-class bucket unroll (similarity.residue_bucket_expr) replaced
the 8 interpreted aggregate() plane folds in the at-rest ANN layouts; these
tests pin its bit-exactness against both the numpy reference and the HOF
fallback branch, on the fast-path width (64) AND a non-64 width that must
take the fallback.
"""

from __future__ import annotations

import numpy as np
import pytest


def _hof_bucket(col: str) -> str:
    from tmapreduce_spark.functions.similarity import N_PLANES

    plane_dots = ", ".join(
        f"aggregate(sequence(0, size({col}) - 1), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + {col}[i] * CAST((i * 31 + {j} * 17) % 7 - 3 AS BIGINT))"
        for j in range(N_PLANES)
    )
    return (
        f"aggregate(zip_with(array({plane_dots}), sequence(0, {N_PLANES - 1}), "
        "(d, j) -> IF(d >= 0, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def test_residue_bucket_expr_matches_hof_and_numpy(spark):
    """Fast path (dim 64): residue unroll == HOF fold == numpy _buckets_of
    on random int64 rows spanning negative/positive components."""
    from pyspark.sql import functions as F

    from tmapreduce_spark.functions.similarity import (
        _buckets_of,
        residue_bucket_expr,
    )

    rng = np.random.default_rng(13)
    rows = [(i, rng.integers(-(10**6), 10**6, 64).astype("int64").tolist())
            for i in range(128)]
    df = spark.createDataFrame(rows, "id bigint, qe array<bigint>")
    expr = residue_bucket_expr("qe", 64, _hof_bucket("qe"))
    got = {
        r["id"]: (r["fast"], r["hof"])
        for r in df.select(
            "id",
            F.expr(expr).alias("fast"),
            F.expr(_hof_bucket("qe")).alias("hof"),
        ).collect()
    }
    Q = np.stack([np.array(q, dtype=np.int64) for _, q in rows])
    want = _buckets_of(Q).tolist()
    for (i, _), w in zip(rows, want):
        assert got[i] == (w, w), (i, got[i], w)


def test_residue_bucket_expr_non64_width_takes_fallback(spark):
    """A non-64 width must route through the HOF fallback and still match
    numpy — the size() CASE guard is what makes the unroll safe."""
    from pyspark.sql import functions as F

    from tmapreduce_spark.functions.similarity import (
        _buckets_of,
        residue_bucket_expr,
    )

    rng = np.random.default_rng(31)
    rows = [(i, rng.integers(-(10**6), 10**6, 24).astype("int64").tolist())
            for i in range(32)]
    df = spark.createDataFrame(rows, "id bigint, qe array<bigint>")
    expr = residue_bucket_expr("qe", 64, _hof_bucket("qe"))
    got = {r["id"]: r["b"] for r in df.select("id", F.expr(expr).alias("b")).collect()}
    Q = np.stack([np.array(q, dtype=np.int64) for _, q in rows])
    want = _buckets_of(Q).tolist()
    for (i, _), w in zip(rows, want):
        assert got[i] == w, (i, got[i], w)


def test_residue_bucket_expr_rejects_dim_below_seven():
    """Below width 7 some residue class has no term, which would render
    an empty ``()`` sum; the builder refuses with a Python error instead of
    leaving a Catalyst parse failure for plan time."""
    from tmapreduce_spark.functions.similarity import residue_bucket_expr

    for dim in (0, 1, 6):
        with pytest.raises(ValueError, match="dim >= 7"):
            residue_bucket_expr("qe", dim, "0")
    assert "()" not in residue_bucket_expr("qe", 7, "0")


def test_jw_char_prune_never_drops_a_match():
    """The join_jaro_winkler JVM prune (2*c*(la+lb) >= 3*la*lb with c the
    common-char multiset bound) must keep every pair the exact scorer
    admits at >= 0.9 — brute-force over random word-like pairs plus
    adversarial near-misses."""
    import random

    from collections import Counter

    from tmapreduce_spark.operators.advanced import _jaro_winkler_py

    rng = random.Random(13)
    words = ["old", "cold", "bold", "rod", "rot", "red", "spark", "spork",
             "table", "cable", "a", "ab", ""]
    cases = []
    for _ in range(4000):
        a = " ".join(rng.choices(words, k=rng.randint(1, 5))).strip()
        b = " ".join(rng.choices(words, k=rng.randint(1, 5))).strip()
        cases.append((a, b))
    # adversarial: identical, near-identical, prefix-shifted
    cases += [("old rod", "old rod"), ("old rod", "cold rod"),
              ("abcd", "abce"), ("aaaa", "aaab"), ("x", "x")]
    for a, b in cases:
        ca, cb = Counter(a), Counter(b)
        c = sum((ca & cb).values())
        la, lb = len(a), len(b)
        kept = 2 * c * (la + lb) >= 3 * la * lb
        sim = _jaro_winkler_py(a, b)
        if sim >= 0.9:
            assert kept, (a, b, sim, c, la, lb)
