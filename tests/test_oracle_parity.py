"""Driver-predictive correctness gate: run every catalog query on Spark AND
its DuckDB oracle at sf0.001 (fast inner loop; the driver re-runs at sf0.01),
then compare row counts, column names, and exact values after column-name
sort + row sort — a local replica of CORRECTNESS_r{N}.json."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE, catalog, register_duck_views

CATALOG = catalog()
ORACLE_NAMES = sorted(n for n, s in CATALOG.items() if s.oracle is not None)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(float)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    s = normalize(spark_pdf)
    d = normalize(duck_pdf)
    for c in s.columns:
        sk = "f" if pd.api.types.is_float_dtype(s[c]) else (
            "i" if pd.api.types.is_integer_dtype(s[c]) else "o")
        dk = "f" if pd.api.types.is_float_dtype(d[c]) else (
            "i" if pd.api.types.is_integer_dtype(d[c]) else "o")
        assert sk == dk, (
            f"{name}.{c}: dtype kind {s[c].dtype} vs oracle {d[c].dtype} — "
            "the driver's string-hash distinguishes 1 from 1.0; cast the "
            "oracle (DuckDB HUGEINT sums -> BIGINT) or the Spark side"
        )
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert a == b, f"{name}.{c}[{i}]: {a!r} != {b!r}"
            else:
                assert a == b, f"{name}.{c}[{i}]: {a!r} != {b!r}"


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    register_duck_views(duck, SF_SMOKE)
    spec = CATALOG[name]
    spark_pdf = spec.fn(spark, SF_SMOKE).toPandas()
    duck_pdf = duck.execute(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_all_queries_have_entries():
    assert len(CATALOG) >= 20
    for name, spec in CATALOG.items():
        assert callable(spec.fn), name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_results_identical_across_parallelism(spark):
    """The docs/SCALE.md determinism claim, executed: float-bearing
    aggregates must be BIT-identical when the shuffle partition count (and
    therefore reduction grouping/order) changes — the property that exact
    integer-space reduction buys. 7 vs the session default exercises
    different partition assignments for every groupBy/window."""
    NAMES = [
        "q1_pricing_summary",
        "agg_gini_concentration",
        "diag_ks_drift",
        "dedup_minhash_pairs",
        "window_ewma",
        "agg_welch_ttest",
        "events_cuped_adjusted_lift",
        # r12: the bucketed ANN join's cosine is a double, but the int64
        # quantized dot + 1e-6 grid must make it partition-count-invariant
        "layout_ann_bucketed",
    ]
    saved = spark.conf.get("spark.sql.shuffle.partitions")

    def run_all():
        out = {}
        for n in NAMES:
            pdf = CATALOG[n].fn(spark, SF_SMOKE).toPandas()
            pdf = pdf.reindex(sorted(pdf.columns), axis=1)
            out[n] = sorted(map(tuple, pdf.astype(str).values.tolist()))
        return out

    try:
        base = run_all()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = run_all()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    for n in NAMES:
        assert base[n] == alt[n], f"{n} drifted across parallelism"
