"""Round-10 operator semantics: independent pandas/numpy/scipy-free
recomputes of the statistical identities behind the new entries. Oracle
hash-parity is covered by test_oracle_parity's catalog replica; these pin
what the hash can't explain."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE, run_entry, smoke_table


def test_bucketed_groupby_equals_plain_groupby(spark):
    got = run_entry(spark, "layout_bucketed_groupby").set_index("n_items")
    li = duckdb.sql(
        f"""SELECT l_orderkey, count(*) AS n_items,
                   sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000
                                  + 0.5) AS BIGINT)) AS rev_micro
            FROM '{SF_SMOKE}/lineitem.parquet' GROUP BY l_orderkey"""
    ).df()
    hist = li.groupby("n_items").agg(n=("l_orderkey", "size"),
                                     rev=("rev_micro", "sum"))
    assert got["n_orders"].sum() == li.shape[0]
    for k, row in hist.iterrows():
        assert got.loc[k, "n_orders"] == row["n"]
        # presentation: micro sum -> half-up at cents grid -> dollars
        want = ((row["rev"] + 5000) // 10000) / 100
        assert got.loc[k, "revenue"] == want


def test_mad_robust_bruteforce(spark):
    got = run_entry(spark, "agg_mad_robust").set_index("o_orderpriority")
    o = smoke_table("orders")
    o["c"] = np.floor(o.o_totalprice * 100 + 0.5).astype("int64")
    for prio, g in o.groupby("o_orderpriority"):
        c = np.sort(g.c.values)
        med = c[(len(c) - 1) // 2] if len(c) % 2 else c[len(c) // 2 - 1]
        # percentile_disc(0.5): smallest value with cume_dist >= 0.5
        med = np.sort(c)[int(np.ceil(0.5 * len(c))) - 1]
        adev = np.sort(np.abs(g.c.values - med))
        mad = adev[int(np.ceil(0.5 * len(adev))) - 1]
        assert got.loc[prio, "median_price"] == med / 100
        assert got.loc[prio, "mad_price"] == mad / 100
        n_out = int((np.abs(g.c.values - med) * 10000 > 44478 * mad).sum())
        assert got.loc[prio, "n_robust_outliers"] == n_out
        assert got.loc[prio, "n"] == len(g)


def test_gtest_identities(spark):
    got = run_entry(spark, "agg_gtest_independence").iloc[0]
    o = smoke_table("orders")
    tab = o.groupby(["o_orderpriority", "o_orderstatus"]).size()
    n = len(o)
    r = o.groupby("o_orderpriority").size()
    c = o.groupby("o_orderstatus").size()
    g = 2 * sum(
        obs * math.log(obs * n / (r[p] * c[s]))
        for (p, s), obs in tab.items()
    )
    assert got["n"] == n
    assert got["dof"] == (r.size - 1) * (c.size - 1)
    assert abs(got["g_stat"] - g) < 1e-4
    assert got["g_stat"] >= 0 or abs(got["g_stat"]) < 1e-6


def test_runs_test_bruteforce(spark):
    got = run_entry(spark, "agg_runs_test").iloc[0]
    o = smoke_table("orders")
    o["c"] = np.floor(o.o_totalprice * 100 + 0.5).astype("int64")
    days = o.groupby("o_orderdate").c.sum().sort_index()
    med = np.sort(days.values)[int(np.ceil(0.5 * len(days))) - 1]
    s = (days[days != med] > med).astype(int).values
    runs = 1 + int((s[1:] != s[:-1]).sum())
    n1, n2 = int(s.sum()), int(len(s) - s.sum())
    n = n1 + n2
    assert got["n_days"] == n and got["n_above"] == n1 and got["n_below"] == n2
    assert got["n_runs"] == runs
    mu = 1 + 2 * n1 * n2 / n
    var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert abs(got["expected_runs"] - mu) < 1e-5
    assert abs(got["z_stat"] - (runs - mu) / math.sqrt(var)) < 1e-5


def test_durbin_watson_bruteforce(spark):
    got = run_entry(spark, "agg_durbin_watson").iloc[0]
    o = smoke_table("orders")
    o["c"] = np.floor(o.o_totalprice * 100 + 0.5).astype("int64")
    days = o.groupby("o_orderdate").c.sum().sort_index().values.astype(float)
    e = days - days.mean()
    dw = float((np.diff(e) ** 2).sum() / (e**2).sum())
    assert got["n_days"] == len(days)
    assert abs(got["dw_stat"] - dw) < 1e-5
    assert 0 < got["dw_stat"] < 4


def test_cume_dist_bruteforce(spark):
    got = run_entry(spark, "window_cume_dist")
    o = smoke_table("orders")
    for prio, g in o.groupby("o_orderpriority"):
        sub = got[got.o_orderpriority == prio].sort_values("rn")
        assert len(sub) == 8
        top = g.sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True]
        ).head(8)
        assert list(sub.o_orderkey) == list(top.o_orderkey)
        n = len(g)
        for _, row in sub.iterrows():
            n_le = int((g.o_totalprice <= row.o_totalprice).sum())
            n_lt = int((g.o_totalprice < row.o_totalprice).sum())
            assert row.cume_dist == math.floor(n_le / n * 1e6 + 0.5) / 1e6
            assert row.percent_rank == math.floor(n_lt / (n - 1) * 1e6 + 0.5) / 1e6


def test_select_scalar_identities(spark):
    got = run_entry(spark, "subquery_select_scalar")
    o = smoke_table("orders")
    assert (got.global_max_price == o.o_totalprice.max()).all()
    assert abs(got.revenue_share.sum() - 1) < 1e-4
    assert got.n_orders.sum() == len(o)


def test_circadian_identities(spark):
    got = run_entry(spark, "events_circadian_profile").set_index("event_type")
    e = smoke_table("events")
    e["hod"] = pd.to_datetime(e.ts).dt.hour
    for t, g in e.groupby("event_type"):
        ang = 2 * np.pi * g.hod.values / 24
        x, y = np.cos(ang).mean(), np.sin(ang).mean()
        r = math.hypot(x, y)
        assert got.loc[t, "n"] == len(g)
        assert abs(got.loc[t, "mean_x"] - x) < 1e-5
        assert abs(got.loc[t, "mean_y"] - y) < 1e-5
        assert abs(got.loc[t, "resultant_r"] - r) < 1e-5
        assert abs(got.loc[t, "circ_variance"] - (1 - r)) < 1e-5
        assert 0 <= got.loc[t, "resultant_r"] <= 1


def test_haar_energy_bruteforce(spark):
    got = run_entry(spark, "events_haar_energy").set_index("level")
    e = smoke_table("events")
    # force ns resolution: the parquet ts is us-resolution and pandas keeps
    # it, so a bare astype(int64) would be microseconds
    hidx = (
        pd.to_datetime(e.ts).astype("datetime64[ns]").astype("int64")
        // (3600 * 10**9)
    ).values
    lo = hidx.min()
    counts = np.zeros(512, dtype="int64")
    for h in hidx:
        if h - lo < 512:
            counts[h - lo] += 1
    total = 0
    energies = {}
    for lvl in range(1, 10):
        blk = 1 << lvl
        half = blk >> 1
        d = [
            counts[b : b + half].sum() - counts[b + half : b + blk].sum()
            for b in range(0, 512, blk)
        ]
        energies[lvl] = int(sum(x * x for x in d))
        total += energies[lvl]
        assert got.loc[lvl, "energy"] == energies[lvl]
        assert got.loc[lvl, "n_blocks"] == 512 // blk
        assert got.loc[lvl, "block_hours"] == blk
    for lvl in range(1, 10):
        assert (
            got.loc[lvl, "energy_share"]
            == math.floor(energies[lvl] / total * 1e6 + 0.5) / 1e6
        )


def test_slo_burn_identities(spark):
    got = run_entry(spark, "events_slo_burn_rate")
    e = smoke_table("events")
    widx = (
        pd.to_datetime(e.ts).astype("datetime64[ns]").astype("int64")
        // (6 * 3600 * 10**9)
    )
    grp = e.assign(w=widx).groupby("w")
    assert got.n_events.sum() == len(e)
    err = grp.apply(
        lambda g: int((g.event_type == "error").sum()), include_groups=False
    )
    n = grp.size()
    assert got.n_errors.sum() == int(err.sum())
    # burn and flag consistency on every window
    for _, row in got.iterrows():
        assert row.fast_burn == (1 if 40 * row.n_errors > 12 * row.n_events else 0)
        want = math.floor(4 * row.n_errors / row.n_events * 1e6 + 0.5) / 1e6
        assert row.burn_rate == want
    # non-degenerate: both healthy and breaching windows exist at smoke SF
    assert 0 < got.fast_burn.sum() < len(got)


def test_heaps_fit_bruteforce(spark):
    got = run_entry(spark, "text_heaps_law_fit").iloc[0]
    import re

    d = smoke_table("documents")
    rows = []
    for _, r in d.iterrows():
        ts = [t for t in re.split(r"\s+", r.text.strip().lower()) if t]
        for i in range(len(ts) - 2):
            rows.append((r.doc_id, " ".join(ts[i : i + 3])))
    sh = pd.DataFrame(rows, columns=["doc_id", "s"])
    lo, hi = sh.doc_id.min(), sh.doc_id.max()
    firsts = sh.groupby("s").doc_id.min()
    lx, ly = [], []
    for k in range(1, 11):
        cut = lo + (hi - lo + 1) * k // 10 - 1
        n = int((sh.doc_id <= cut).sum())
        v = int((firsts <= cut).sum())
        lx.append(math.floor(math.log(n) * 1e6 + 0.5))
        ly.append(math.floor(math.log(v) * 1e6 + 0.5))
    lx, ly = np.array(lx, dtype=float), np.array(ly, dtype=float)
    n = 10
    beta = (n * (lx * ly).sum() - lx.sum() * ly.sum()) / (
        n * (lx * lx).sum() - lx.sum() ** 2
    )
    assert got["n_prefixes"] == 10
    assert abs(got["beta_heaps"] - beta) < 1e-4
    # non-degenerate: real sublinear growth with a tight fit
    assert 0.3 < got["beta_heaps"] < 1.0
    assert got["r_squared"] > 0.9


def test_burrows_delta_bruteforce(spark):
    got = run_entry(spark, "text_burrows_delta")
    assert len(got) == 20 * 19 // 2
    assert (got.delta >= 0).all()
    import re

    d = smoke_table("documents")
    rows = []
    for _, r in d.iterrows():
        for t in re.split(r"\s+", r.text.strip().lower()):
            if t:
                rows.append((r.source, t))
    tk = pd.DataFrame(rows, columns=["source", "tok"])
    cnt = tk.groupby(["source", "tok"]).size()
    tot = tk.groupby("tok").size().reset_index(name="n")
    topk = list(
        tot.sort_values(["n", "tok"], ascending=[False, True]).head(10).tok
    )
    src_tot = tk.groupby("source").size()
    sources = sorted(src_tot.index)
    f6 = {
        (s, t): math.floor(cnt.get((s, t), 0) / src_tot[s] * 1e6 + 0.5)
        for s in sources
        for t in topk
    }
    z6 = {}
    for t in topk:
        vals = np.array([f6[(s, t)] for s in sources], dtype=float)
        sd = math.sqrt(((vals**2).sum() - vals.sum() ** 2 / len(vals)) / len(vals))
        for s in sources:
            z = 0.0 if sd == 0 else (f6[(s, t)] - vals.mean()) / sd
            z6[(s, t)] = math.floor(z * 1e6 + 0.5)
    a, b = sources[0], sources[1]
    want = sum(abs(z6[(a, t)] - z6[(b, t)]) for t in topk)
    want = math.floor(want / 10 / 1e6 * 1e6 + 0.5) / 1e6
    gotab = got[(got.source_a == a) & (got.source_b == b)].delta.iloc[0]
    assert abs(gotab - want) < 2e-6


def test_cross_perplexity_structure(spark):
    got = run_entry(spark, "text_cross_perplexity")
    assert len(got) == 400
    diag = got[got.source_a == got.source_b]
    assert len(diag) == 20 and (diag.excess_nats == 0).all()
    assert (got.h_cross > 0).all()
    # brute-force one off-diagonal pair
    d = smoke_table("documents")
    cells: dict[tuple[str, str], int] = {}
    for _, r in d.iterrows():
        if len(r.text) < 2:
            continue
        for i in range(len(r.text) - 1):
            key = (r.source, r.text[i : i + 2])
            cells[key] = cells.get(key, 0) + 1
    vocab = len({bg for _, bg in cells})
    totals: dict[str, int] = {}
    for (s, _), c in cells.items():
        totals[s] = totals.get(s, 0) + c
    a, b = sorted(totals)[0], sorted(totals)[1]
    s9 = sum(
        math.floor(
            ca * math.log((cells.get((b, bg), 0) + 1) / (totals[b] + vocab)) * 1e9
            + 0.5
        )
        for (sa, bg), ca in cells.items()
        if sa == a
    )
    want = math.floor(-s9 / 1e9 / totals[a] * 1e6 + 0.5) / 1e6
    gotab = got[(got.source_a == a) & (got.source_b == b)].h_cross.iloc[0]
    assert abs(gotab - want) < 2e-6


def test_span_corruption_bruteforce(spark):
    import hashlib
    import re

    got = run_entry(spark, "pipeline_span_corruption").set_index("source")
    d = smoke_table("documents")

    def start(doc_id, p):
        if p < 0:
            return 0
        h = hashlib.md5(f"sc:{doc_id}:{p}".encode()).hexdigest()
        return 1 if int(h[:15], 16) % 20 == 0 else 0

    src = d.source.iloc[0]
    n_docs = n_tok = n_starts = n_masked = n_sent = 0
    for _, r in d[d.source == src].iterrows():
        ts = [t for t in re.split(r"\s+", r.text.strip().lower()) if t or True]
        ts = re.split(r"\s+", r.text.strip().lower())
        n = len(ts)
        if n < 1:
            continue
        n_docs += 1
        n_tok += n
        for p in range(n):
            s0 = start(r.doc_id, p)
            m = max(s0, start(r.doc_id, p - 1), start(r.doc_id, p - 2))
            mp = max(
                start(r.doc_id, p - 1), start(r.doc_id, p - 2), start(r.doc_id, p - 3)
            )
            n_starts += s0
            n_masked += m
            n_sent += 1 if (m == 1 and mp == 0) else 0
    row = got.loc[src]
    assert row.n_docs == n_docs and row.n_tokens == n_tok
    assert row.n_span_starts == n_starts
    assert row.n_masked == n_masked and row.n_sentinels == n_sent
    # global non-degeneracy: a T5-ish mask plan
    assert 0.05 < got.mask_rate.mean() < 0.3
    assert (got.mean_span_len >= 3).all()


def test_kmv_jaccard_identities(spark):
    got = run_entry(spark, "sketch_kmv_jaccard")
    assert len(got) == 20 * 19 // 2
    assert (got.k_used <= 64).all() and (got.k_used > 0).all()
    assert ((got.j_kmv >= 0) & (got.j_kmv <= 1)).all()
    assert ((got.j_exact >= 0) & (got.j_exact <= 1)).all()
    # the estimate is calibrated: mean abs error well under the k=64
    # binomial noise floor ~ 1/sqrt(64) = 0.125
    assert got.abs_err.mean() < 0.125
    # brute-force one pair end to end
    import hashlib
    import re

    d = smoke_table("documents")
    sets: dict[str, set] = {}
    for _, r in d.iterrows():
        ts = [t for t in re.split(r"\s+", r.text.strip().lower()) if t]
        if len(ts) < 3:
            continue
        sets.setdefault(r.source, set()).update(
            " ".join(ts[i : i + 3]) for i in range(len(ts) - 2)
        )
    a, b = sorted(sets)[0], sorted(sets)[1]
    j_exact = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
    def sk(src):
        hs = sorted(
            int(hashlib.md5(f"kmv:{s}".encode()).hexdigest()[:15], 16)
            for s in sets[src]
        )
        return hs[:64]
    sa, sb = set(sk(a)), set(sk(b))
    merged = sorted(sa | sb)[:64]
    j_kmv = sum(1 for h in merged if h in sa and h in sb) / len(merged)
    row = got[(got.source_a == a) & (got.source_b == b)].iloc[0]
    assert abs(row.j_exact - j_exact) < 2e-6
    assert abs(row.j_kmv - j_kmv) < 2e-6


def test_capture_recapture_identities(spark):
    got = run_entry(spark, "eval_capture_recapture_dedup").iloc[0]
    n1, n2, m = got.n_minhash, got.n_simhash, got.n_both
    nhat = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert abs(got.n_hat_chapman - nhat) < 1e-4
    assert got.n_observed == n1 + n2 - m
    assert got.est_undetected == max(
        math.floor((nhat - got.n_observed) * 1e6 + 0.5) / 1e6, 0
    )
    assert 0 < got.est_coverage <= 1 + 1e-9
    # consistency with the McNemar entry's cells
    mc = run_entry(spark, "eval_mcnemar_dedup").iloc[0]
    assert got.n_minhash == mc.n_minhash and got.n_simhash == mc.n_simhash
    assert got.n_both == mc.n_both


def test_hist_equalize_bruteforce(spark):
    from tmapreduce_spark.functions.multimodal import (
        _r_channel,
        _synth_container,
    )

    got = run_entry(spark, "multimodal_hist_equalize").set_index("doc_id")
    d = smoke_table("documents")
    assert len(got) == len(d)
    # brute-force a handful of docs across both container formats
    for _, r in pd.concat([d.head(4), d.tail(3)]).iterrows():
        img = _synth_container(int(r.doc_id), r.text.encode())
        w, h, rv = _r_channel(img)
        n = len(rv)
        hist: dict[int, int] = {}
        for v in rv:
            hist[v] = hist.get(v, 0) + 1
        acc, cdf = 0, {}
        for v in sorted(hist):
            acc += hist[v]
            cdf[v] = acc
        cm = min(cdf.values())
        den = 2 * (n - cm)
        eq = {v: ((c - cm) * 510 + (n - cm)) // den if den else 0
              for v, c in cdf.items()}
        row = got.loc[r.doc_id]
        assert row.width == w and row.height == h and row.n_pix == n
        assert row.n_levels_before == len(hist)
        assert row.n_levels_after == len(set(eq.values()))
        assert row.eq_sum == sum(eq[v] * hist[v] for v in hist)
        # equalization really spreads the histogram to the full range
        assert max(eq.values()) == 255 and min(eq.values()) == 0


def test_synthgrid_filter_pushdown(spark):
    """Spark 4.1 Python DataSource filter pushdown: range predicates on the
    index column must reach the reader (PushedFilters in the plan), narrow
    the GENERATION bounds (unit-level), leave unsupported predicates to
    Spark, and not change any result."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        IsNotNull,
        LessThan,
    )

    from tmapreduce_spark.plans import physical_plan
    from tmapreduce_spark.sources.pysource import SynthGridReader, read_synthgrid

    # unit: accepted filters narrow bounds and are consumed; others returned
    r = SynthGridReader({})
    leftover = list(
        r.pushFilters(
            [GreaterThanOrEqual(("i",), 100), LessThan(("i",), 200),
             IsNotNull(("i",)), EqualTo(("label",), "g1")]
        )
    )
    assert r.lo_bound == 100 and r.hi_bound == 200
    assert {type(f).__name__ for f in leftover} == {"IsNotNull", "EqualTo"}
    parts = r.partitions()
    assert parts[0].lo == 100 and parts[-1].hi == 200

    # end-to-end: plan shows PushedFilters; results equal the unpruned scan
    df = read_synthgrid(spark).filter("i >= 49000 AND i < 49500 AND h % 2 = 0")
    plan = physical_plan(df)
    assert "PushedFilters: [GreaterThanOrEqual(i,49000), LessThan(i,49500)]" in plan
    got = sorted(r.i for r in df.collect())
    want = sorted(
        r.i for r in read_synthgrid(spark).collect()
        if 49000 <= r.i < 49500 and r.h % 2 == 0
    )
    assert got == want and len(got) == 250


def test_synthgrid_arrow_path_equals_row_path(spark):
    """The connector's Arrow fast path (vectorized RecordBatch per split)
    must be byte-identical to the row-iterator form, compose with filter
    pushdown, and keep the oracle-paired entry unchanged."""
    from tmapreduce_spark.sources.pysource import SynthGridDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SynthGridDataSource)

    def rd(arrow):
        return (
            spark.read.format("synthgrid")
            .option("num_rows", "20000")
            .option("arrow", "true" if arrow else "false")
            .load()
        )

    a = sorted(map(tuple, rd(True).collect()))
    b = sorted(map(tuple, rd(False).collect()))
    assert a == b and len(a) == 20000
    # pushdown composes with the Arrow batches
    fa = sorted(map(tuple, rd(True).filter("i >= 19990").collect()))
    fb = sorted(map(tuple, rd(False).filter("i >= 19990").collect()))
    assert fa == fb and len(fa) == 10
