"""Round-11 degenerate-input pins + the reworked oracle-backed sketches.

The r10 advice flagged three divisions that would go NaN/Inf on inputs the
shipped fixtures never produce (zero span starts, an all-flat Haar window,
a zero-variance runs test). The guards landed with identical text in both
engines; these tests CONSTRUCT the degenerate inputs as crafted parquet
fixtures and pin the NULL convention on the Spark side, plus the DuckDB
oracle on mirrored views — so the convention is load-bearing, not prose.
"""

from __future__ import annotations

import math

import pandas as pd

from tests.conftest import SF_SMOKE, mround6


def _write(tmp_path, name: str, df: pd.DataFrame) -> str:
    df.to_parquet(tmp_path / f"{name}.parquet", index=False)
    return str(tmp_path)


def test_runs_test_var0_is_null_not_nan(spark, duck, tmp_path):
    """Exactly one above-median and one below-median day: 2*n1*n2 = n makes
    the variance 0 — z_stat must be NULL (both engines), never NaN."""
    from tmapreduce_spark.operators.analytics import QUERIES

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_custkey": [1, 1, 1],
            "o_orderstatus": ["O", "O", "O"],
            "o_totalprice": [1.0, 2.0, 3.0],
            "o_orderdate": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-03"]
            ),
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    )
    sf = _write(tmp_path, "orders", orders)
    row = QUERIES["agg_runs_test"].fn(spark, sf).collect()[0]
    assert row["n_above"] == 1 and row["n_below"] == 1
    assert row["z_stat"] is None, row
    assert row["expected_runs"] == 2.0
    duck.execute(
        f"CREATE OR REPLACE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'"
    )
    drow = duck.execute(QUERIES["agg_runs_test"].oracle).df().iloc[0]
    assert pd.isna(drow["z_stat"]) and not math.isnan(drow["expected_runs"])


def test_haar_energy_flat_window_is_null_not_nan(spark, tmp_path):
    """A constant hourly series (1 event in each of the 512 window hours):
    every detail energy is 0, so energy_share is NULL at every level —
    the 0/0 case the r10 advice flagged."""
    from tmapreduce_spark.operators.analytics import QUERIES

    ts = pd.date_range("2024-01-01", periods=512, freq="h")
    events = pd.DataFrame(
        {
            "event_id": range(512),
            "ts": ts,
            "user_id": [1] * 512,
            "event_type": ["view"] * 512,
            "value": [1.0] * 512,
            "props": ["{}"] * 512,
        }
    )
    sf = _write(tmp_path, "events", events)
    rows = QUERIES["events_haar_energy"].fn(spark, sf).collect()
    assert len(rows) == 9
    for r in rows:
        assert r["energy"] == 0
        assert r["energy_share"] is None, r


def test_span_corruption_zero_sentinels_is_null(spark, tmp_path):
    """A source whose only doc never draws a span start (doc_id=1, single
    token: md5 coin 10/20 != 0): n_sentinels = 0, mean_span_len NULL.
    doc_id=10 (coin 0) is the fires-normally companion in a second source."""
    from tmapreduce_spark.functions.text import QUERIES

    docs = pd.DataFrame(
        {
            "doc_id": [1, 10],
            "text": ["solo", "alone"],
            "lang": ["en", "en"],
            "source": ["quiet", "noisy"],
            "n_chars": [4, 5],
        }
    )
    sf = _write(tmp_path, "documents", docs)
    rows = {r["source"]: r for r in QUERIES["pipeline_span_corruption"].fn(spark, sf).collect()}
    assert rows["quiet"]["n_sentinels"] == 0
    assert rows["quiet"]["mean_span_len"] is None, rows["quiet"]
    assert rows["noisy"]["n_sentinels"] == 1
    assert rows["noisy"]["mean_span_len"] == 1.0


def test_kmv_distinct_exact_branch_at_smoke(spark):
    """sf0.001 has 15 users/type (< k=32): the KMV sketch holds every hash,
    so the estimate is EXACT and rel_err is 0 on every row."""
    from tmapreduce_spark.functions.scale import sketch_kmv_distinct

    for r in sketch_kmv_distinct(spark, SF_SMOKE).collect():
        assert r["k_used"] == r["exact_users"] <= 32
        assert r["kmv_users"] == float(r["exact_users"])
        assert r["rel_err"] == 0.0


def test_quantile_sketch_full_sample_at_smoke(spark):
    """sf0.001 orders (~500/status) fit entirely in the k=1024 sample, so
    est_value == exact_value on every row (the sample IS the partition)."""
    from tmapreduce_spark.functions.scale import sketch_sample_quantiles

    for r in sketch_sample_quantiles(spark, SF_SMOKE).collect():
        assert r["est_value"] == r["exact_value"], r
        assert r["rel_err"] == 0.0


def test_hll_registers_are_md5_derived_and_engine_neutral(duck):
    """The HLL oracle recomputes the Spark estimate because the registers
    derive from md5, not an engine sketch: pin one register's value by
    recomputing rho by hand for a single user hash."""
    h, idx, w = duck.execute(
        "SELECT CAST(('0x' || substring(md5('hll:' || CAST(7 AS VARCHAR)), 1, 10)) AS BIGINT) AS h,"
        " CAST(('0x' || substring(md5('hll:' || CAST(7 AS VARCHAR)), 1, 10)) AS BIGINT) % 256,"
        " CAST(('0x' || substring(md5('hll:' || CAST(7 AS VARCHAR)), 1, 10)) AS BIGINT) // 256"
    ).fetchone()
    assert h == idx + 256 * w
    rho_sql = duck.execute(
        f"SELECT CASE WHEN {w} = 0 THEN 33 ELSE 33 - length(bin(CAST({w} AS BIGINT))) END"
    ).fetchone()[0]
    rho_py = 33 - w.bit_length() if w else 33
    assert rho_sql == rho_py


def _h_int(prefix: str, val, nhex: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{prefix}{val}".encode()).hexdigest()[:nhex], 16)


def test_kmv_distinct_brute_force_recompute(spark):
    """Recompute every sketch_kmv_distinct output value in pure Python from
    the parquet fixture — exact equality, including the estimator branch's
    one double division."""
    import duckdb

    from tmapreduce_spark.functions.scale import (
        HASH60_MAX,
        KMV_DISTINCT_K,
        sketch_kmv_distinct,
    )

    got = {r["event_type"]: r for r in sketch_kmv_distinct(spark, SF_SMOKE).collect()}
    con = duckdb.connect()
    raw = con.execute(
        f"SELECT event_type, user_id FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    by_type: dict = {}
    n_events: dict = {}
    for t, u in raw:
        by_type.setdefault(t, set()).add(u)
        n_events[t] = n_events.get(t, 0) + 1
    assert set(got) == set(by_type)
    for t, users in by_type.items():
        hs = sorted(_h_int("adk:", u, 15) for u in users)
        k_used = min(KMV_DISTINCT_K, len(hs))
        h_k = hs[k_used - 1]
        if k_used < KMV_DISTINCT_K:
            est = float(k_used)
        else:
            est = (KMV_DISTINCT_K - 1) * float(HASH60_MAX) / float(h_k)
        r = got[t]
        assert r["n_events"] == n_events[t]
        assert r["exact_users"] == len(users)
        assert r["k_used"] == k_used
        assert r["kmv_users"] == mround6(est)
        assert r["rel_err"] == mround6(abs(est - len(users)) / len(users))


def test_sample_quantiles_brute_force_recompute(spark):
    """Recompute every sketch_sample_quantiles row in pure Python: same
    bottom-k-by-hash sample, same type-1 discrete index, raw doubles."""
    import duckdb
    import math

    from tmapreduce_spark.functions.scale import QSK_K, sketch_sample_quantiles

    got = {
        (r["o_orderstatus"], r["pct"]): r
        for r in sketch_sample_quantiles(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    raw = con.execute(
        f"SELECT o_orderstatus, o_totalprice, o_orderkey FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchall()
    by_st: dict = {}
    for st, v, k in raw:
        by_st.setdefault(st, []).append((v, k))
    assert {s for s, _ in got} == set(by_st)
    for st, rows in by_st.items():
        samp = sorted(rows, key=lambda vk: (_h_int("qsk:", vk[1], 15), vk[1]))[:QSK_K]
        samp_sorted = sorted(samp)          # (v, okey) — value then key
        full_sorted = sorted(rows)
        for tag, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            i_s = int(math.floor((len(samp_sorted) - 1) * q))
            i_f = int(math.floor((len(full_sorted) - 1) * q))
            est, exact = samp_sorted[i_s][0], full_sorted[i_f][0]
            r = got[(st, tag)]
            assert r["sample_n"] == len(samp_sorted)
            assert r["est_value"] == est
            assert r["exact_value"] == exact
            assert r["rel_err"] == mround6(abs(est - exact) / exact)


def test_hll_md5_merge_brute_force_recompute(spark):
    """Recompute the full HLL pipeline in pure Python — registers, daily
    max-merge, exact harmonic numerator, both estimator branches — and
    match the Spark entry exactly."""
    import duckdb
    import math

    from tmapreduce_spark.functions.scale import _HLL_A, sketch_hll_md5_merge

    got = {r["event_type"]: r for r in sketch_hll_md5_merge(spark, SF_SMOKE).collect()}
    con = duckdb.connect()
    raw = con.execute(
        f"SELECT event_type, CAST(ts AS DATE) AS day, user_id"
        f" FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    regs: dict = {}
    days: dict = {}
    users: dict = {}
    n_events: dict = {}
    for t, day, u in raw:
        n_events[t] = n_events.get(t, 0) + 1
        days.setdefault(t, set()).add(day)
        users.setdefault(t, set()).add(u)
        h = _h_int("hll:", u, 10)
        idx, w = h % 256, h // 256
        rho = 33 - w.bit_length() if w else 33
        key = (t, idx)
        regs[key] = max(regs.get(key, 0), rho)  # daily->overall max merges
    A = float(_HLL_A)
    for t, r in got.items():
        m = {i: v for (tt, i), v in regs.items() if tt == t}
        v_zero = 256 - len(m)
        num = sum(1 << (33 - v) for v in m.values()) + v_zero * (1 << 33)
        raw_est = A / float(num)
        est = 256.0 * math.log(256.0 / v_zero) if (raw_est <= 640.0 and v_zero > 0) else raw_est
        exact = len(users[t])
        assert r["n_days"] == len(days[t])
        assert r["n_events"] == n_events[t]
        assert r["exact_users"] == exact
        assert r["v_zero"] == v_zero
        assert r["harmonic_num"] == num
        assert r["hll_users"] == mround6(est)
        assert r["rel_err"] == mround6(abs(est - exact) / exact)
