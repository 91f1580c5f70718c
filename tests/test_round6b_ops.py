"""Independent-recompute property tests for the round-6 second wave:
Spearman / ACF / cross-correlation / spectral probes, isotonic calibration,
RRF hybrid retrieval, and k-core peeling. Every test recomputes the math in
plain Python/numpy from the raw parquet (or from a component the engine
emits) — no shared code path with the implementation under test."""

from __future__ import annotations

import math

import numpy as np

from tests.conftest import SF_SMOKE, catalog, run_entry, smoke_table


def _dense_hourly_np(event_type: str | None = None) -> np.ndarray:
    e = smoke_table("events", "ts, event_type")
    hidx = (e["ts"].astype("datetime64[us]").astype("int64") // 10**6 // 3600)
    lo, hi = int(hidx.min()), int(hidx.max())
    mask = (e["event_type"] == event_type) if event_type else np.ones(len(e), bool)
    counts = np.zeros(hi - lo + 1, dtype=np.int64)
    for h in hidx[mask]:
        counts[int(h) - lo] += 1
    return counts


def test_spearman_matches_pandas_recompute(spark):
    got = run_entry(spark, "agg_spearman_corr").set_index("l_returnflag")
    import duckdb

    li = duckdb.sql(
        f"SELECT l_returnflag, l_quantity, l_extendedprice"
        f" FROM '{SF_SMOKE}/lineitem.parquet'"
    ).df()
    for flag, g in li.groupby("l_returnflag"):
        rx = g["l_quantity"].rank(method="average").to_numpy()
        ry = g["l_extendedprice"].rank(method="average").to_numpy()
        rho = np.corrcoef(rx, ry)[0, 1]
        assert got.loc[flag, "n"] == len(g)
        assert abs(got.loc[flag, "rho_spearman"] - rho) < 2e-6, flag


def test_acf_matches_numpy_recompute(spark):
    got = run_entry(spark, "events_autocorrelation").set_index("lag")
    x = _dense_hourly_np()
    for lag in range(1, 13):
        a, b = x[:-lag].astype(float), x[lag:].astype(float)
        assert got.loc[lag, "n_pairs"] == len(a)
        r = np.corrcoef(a, b)[0, 1]
        assert abs(got.loc[lag, "acf"] - r) < 2e-6, lag


def test_xcorr_lag0_and_symmetric_pair_counts(spark):
    got = run_entry(spark, "events_xcorr_leadlag").set_index("lag")
    v = _dense_hourly_np("view").astype(float)
    p = _dense_hourly_np("purchase").astype(float)
    r0 = np.corrcoef(v, p)[0, 1]
    assert abs(got.loc[0, "xcorr"] - r0) < 2e-6
    # corr(view_t, purchase_{t+L}) for L>0 == corr of shifted arrays
    for lag in (-3, 2, 6):
        if lag >= 0:
            a, b = v[: len(v) - lag or None], p[lag:]
        else:
            a, b = v[-lag:], p[: len(p) + lag]
        assert got.loc[lag, "n_pairs"] == len(a)
        assert abs(got.loc[lag, "xcorr"] - np.corrcoef(a, b)[0, 1]) < 2e-6, lag


def test_spectral_matches_numpy_recompute(spark):
    from tmapreduce_spark.operators.analytics import _twiddle_rows

    got = run_entry(spark, "events_spectral_energy").set_index("period")
    x = _dense_hourly_np()
    e = smoke_table("events", "ts")
    lo = int(
        (e["ts"].astype("datetime64[us]").astype("int64") // 10**6 // 3600).min()
    )
    tw = {(p, ph): (c, s) for p, ph, c, s in _twiddle_rows()}
    for period in (24, 168):
        cs = sum(
            int(x[t]) * tw[(period, (lo + t) % period)][0] for t in range(len(x))
        )
        ss = sum(
            int(x[t]) * tw[(period, (lo + t) % period)][1] for t in range(len(x))
        )
        assert got.loc[period, "cs_units"] == cs
        assert got.loc[period, "ss_units"] == ss
        amp = 2 * math.sqrt(float(cs) ** 2 + float(ss) ** 2) / 1e6 / len(x)
        assert abs(got.loc[period, "amplitude"] - amp) < 2e-6
        assert got.loc[period, "t_hours"] == len(x)


def _pav_sequential(n: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Textbook pool-adjacent-violators over (weight, value) pairs."""
    blocks = [[float(p), float(w)] for p, w in zip(pos, n)]  # [pos_sum, n_sum]
    out_blocks: list[list[float]] = []
    for b in blocks:
        out_blocks.append(b)
        while (
            len(out_blocks) >= 2
            and out_blocks[-2][0] * out_blocks[-1][1]
            >= out_blocks[-1][0] * out_blocks[-2][1]
        ):
            b2 = out_blocks.pop()
            out_blocks[-1][0] += b2[0]
            out_blocks[-1][1] += b2[1]
    fit = []
    for p, w in out_blocks:
        fit.extend([p / w] * int(round(w)))
    # expand by bin (weights are bin supports; rebuild per-bin values)
    vals, i = [], 0
    for w in n:
        vals.append(fit[i])
        i += int(w)
    return np.array(vals)


def test_isotonic_matches_sequential_pav(spark):
    got = run_entry(spark, "eval_isotonic_calibration").sort_values("bin")
    fit = got["iso_fit"].to_numpy()
    # monotone non-decreasing, in [0, 1]
    assert (np.diff(fit) >= -1e-12).all()
    assert (fit >= 0).all() and (fit <= 1).all()
    # mass preservation: support-weighted fit total == total positives
    assert abs((got["n"] * got["iso_fit"]).sum() - got["n_pos"].sum()) < (
        got["n"].sum() * 2e-6
    )
    ref = _pav_sequential(got["n"].to_numpy(), got["n_pos"].to_numpy())
    assert np.abs(fit - ref).max() < 2e-6


def test_kcore_matches_python_peel_to_fixpoint(spark):
    """Independent peel WITHOUT a round bound: proves the engines' fixed
    6-round unroll reaches the fixpoint at fixture scale (slack bound)."""
    pairs = catalog()["dedup_minhash_pairs"].fn(spark, SF_SMOKE).toPandas()
    adj: dict[int, set[int]] = {}
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        adj.setdefault(int(a), set()).add(int(b))
        adj.setdefault(int(b), set()).add(int(a))
    got = run_entry(spark, "graph_kcore").set_index("doc_id")
    assert set(got.index) == set(adj)
    for k, col in ((2, "in_2core"), (3, "in_3core")):
        alive = set(adj)
        while True:
            drop = {v for v in alive if len(adj[v] & alive) < k}
            if not drop:
                break
            alive -= drop
        assert set(got.index[got[col] == 1]) == alive, k
    for v in adj:
        assert got.loc[v, "degree"] == len(adj[v])
