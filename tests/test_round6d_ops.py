"""Independent-recompute property tests for the round-6 fourth wave:
association rules, SRM check, mutual information, and Bollinger bands —
each verified against a from-scratch Python/numpy recompute."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE, run_entry


def test_assoc_rules_matches_python_recompute(spark):
    from tmapreduce_spark.operators.relational import (
        ASSOC_MIN_CONF_PCT,
        BASKET_MIN_SUP,
    )
    import duckdb

    got = run_entry(spark, "orders_assoc_rules")
    li = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{SF_SMOKE}/lineitem.parquet'"
    ).df()
    baskets: dict[int, set[int]] = {}
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets.setdefault(int(o), set()).add(int(p))
    n_orders = len(baskets)
    part_n: dict[int, int] = {}
    pair_n: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        sp = sorted(parts)
        for p in sp:
            part_n[p] = part_n.get(p, 0) + 1
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                k = (sp[i], sp[j])
                pair_n[k] = pair_n.get(k, 0) + 1
    expect = {}
    for (a, b), nab in pair_n.items():
        if nab < BASKET_MIN_SUP:
            continue
        for ante, conseq in ((a, b), (b, a)):
            if 100 * nab >= ASSOC_MIN_CONF_PCT * part_n[ante]:
                expect[(ante, conseq)] = (
                    nab,
                    part_n[ante],
                    part_n[conseq],
                    nab / part_n[ante],
                    nab * n_orders / (part_n[ante] * part_n[conseq]),
                )
    assert len(got) == len(expect) > 0
    for _, r in got.iterrows():
        nab, na, nc, conf, lift = expect[(int(r["ante"]), int(r["conseq"]))]
        assert r["n_ab"] == nab and r["n_ante"] == na and r["n_conseq"] == nc
        assert abs(r["confidence"] - conf) < 2e-6
        assert abs(r["lift"] - lift) < 2e-6
        if conf < 1:
            conv = (1 - nc / n_orders) / (1 - conf)
            assert abs(r["conviction"] - conv) < 2e-5
        else:
            assert pd.isna(r["conviction"])


def test_srm_check_matches_python_hash(spark):
    import duckdb

    got = run_entry(spark, "events_srm_check")
    assert len(got) == 1
    users = duckdb.sql(
        f"SELECT DISTINCT user_id FROM '{SF_SMOKE}/events.parquet'"
    ).df()["user_id"]
    arms = [
        int(hashlib.md5(str(int(u)).encode()).hexdigest()[:15], 16) % 2
        for u in users
    ]
    n_a = arms.count(0)
    n_b = arms.count(1)
    row = got.iloc[0]
    assert row["n_a"] == n_a and row["n_b"] == n_b
    chi = (n_a - n_b) ** 2 / (n_a + n_b)
    assert abs(row["chi2"] - chi) < 2e-6
    assert row["srm_flag"] == (1 if chi > 3.841 else 0)


def test_mutual_information_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "agg_mutual_information")
    assert len(got) == 1
    d = duckdb.sql(
        f"SELECT lang, source FROM '{SF_SMOKE}/documents.parquet'"
    ).df()
    ct = pd.crosstab(d["lang"], d["source"]).to_numpy().astype(float)
    n = ct.sum()
    p = ct / n
    pl = p.sum(axis=1, keepdims=True)
    ps = p.sum(axis=0, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        mi = np.nansum(np.where(p > 0, p * np.log(p / (pl @ ps)), 0.0))
    h_l = -np.sum(pl * np.log(pl))
    h_s = -np.sum(ps * np.log(ps))
    row = got.iloc[0]
    assert abs(row["h_lang"] - h_l) < 2e-6
    assert abs(row["h_source"] - h_s) < 2e-6
    assert abs(row["mi_nats"] - mi) < 2e-6
    assert abs(row["nmi"] - mi / math.sqrt(h_l * h_s)) < 2e-6
    # information-theoretic invariants
    assert -1e-9 <= row["mi_nats"] <= min(row["h_lang"], row["h_source"]) + 1e-9
    assert -1e-9 <= row["nmi"] <= 1 + 1e-9


def test_bollinger_matches_numpy_recompute(spark):
    from tmapreduce_spark.operators.windows import BB_WIN
    import duckdb

    got = run_entry(spark, "window_bollinger_bands").sort_values("day").reset_index(
        drop=True
    )
    daily = duckdb.sql(
        f"""SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS c
            FROM '{SF_SMOKE}/orders.parquet' GROUP BY 1 ORDER BY 1"""
    ).df()
    c = daily["c"].to_numpy().astype(object)  # exact ints
    assert len(got) == len(daily) - BB_WIN + 1
    for idx, r in got.iterrows():
        w = c[idx : idx + BB_WIN]
        s = int(sum(w))
        ss = int(sum(x * x for x in w))
        mean = s / BB_WIN
        var = (ss * BB_WIN - s * s) / (BB_WIN * BB_WIN)
        std = math.sqrt(max(var, 0.0))
        assert abs(r["revenue"] - int(w[-1]) / 100) < 1e-6
        assert abs(r["sma"] - mean / 100) < 0.011
        assert abs(r["upper_band"] - (mean + 2 * std) / 100) < 0.011
        assert abs(r["lower_band"] - (mean - 2 * std) / 100) < 0.011
        expect_flag = (
            1 if w[-1] > mean + 2 * std else (-1 if w[-1] < mean - 2 * std else 0)
        )
        assert r["breakout"] == expect_flag, r["day"]
