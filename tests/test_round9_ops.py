"""Round-9 operator semantics: one-way ANOVA, DiD lift with placebo, and
Cohen's kappa. Oracle hash-parity is covered by test_oracle_parity's catalog
replica; these pin the statistical identities the hash can't explain."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE, catalog, run_entry


def test_anova_identities(spark):
    got = run_entry(spark, "agg_anova_oneway").iloc[0]
    # recompute from raw data: cells partition the table
    o = duckdb.sql(
        f"SELECT o_orderpriority, o_totalprice FROM '{SF_SMOKE}/orders.parquet'"
    ).df()
    assert got["n_total"] == len(o)
    assert got["k_groups"] == o["o_orderpriority"].nunique() == 5
    # SSB + SSW = SST and both are non-negative
    grand = o["o_totalprice"].mean()
    sst = ((o["o_totalprice"] - grand) ** 2).sum()
    ssb = sum(
        len(g) * (g["o_totalprice"].mean() - grand) ** 2
        for _, g in o.groupby("o_orderpriority")
    )
    assert got["ss_between"] >= 0 and got["ss_within"] >= 0
    assert abs(got["ss_between"] - ssb) / ssb < 1e-6
    assert abs((got["ss_between"] + got["ss_within"]) - sst) / sst < 1e-6
    # eta^2 = SSB / SST and F consistency
    assert abs(got["eta_squared"] - ssb / sst) < 1e-5
    f = (ssb / 4) / ((sst - ssb) / (len(o) - 5))
    assert abs(got["f_stat"] - f) / f < 1e-5


def test_did_cells_partition_and_contrast(spark):
    got = run_entry(spark, "events_did_lift").iloc[0]
    e = duckdb.sql(
        f"""SELECT user_id % 2 = 0 AS treat, epoch_us(ts) AS us, value
            FROM '{SF_SMOKE}/events.parquet' WHERE event_type = 'purchase'"""
    ).df()
    post = 1_705_363_200_000_000
    # the four count cells partition the purchase slice
    n_cells = (
        got["n_treat_pre"] + got["n_treat_post"]
        + got["n_ctrl_pre"] + got["n_ctrl_post"]
    )
    assert n_cells == len(e)
    assert got["n_treat_pre"] == ((e.treat) & (e.us < post)).sum()
    assert got["n_ctrl_post"] == ((~e.treat) & (e.us >= post)).sum()
    # the DiD contrast equals the rounded-mean recombination to rounding slack
    did = (got["mean_treat_post"] - got["mean_treat_pre"]) - (
        got["mean_ctrl_post"] - got["mean_ctrl_pre"]
    )
    assert abs(did - got["did_estimate"]) < 4e-6
    # independent float-path recompute of the estimate itself
    def mean(t, lo, hi):
        s = e[(e.treat == t) & (e.us >= lo) & (e.us < hi)]
        return s.value.mean()

    ind = (mean(True, post, 1 << 62) - mean(True, 0, post)) - (
        mean(False, post, 1 << 62) - mean(False, 0, post)
    )
    assert abs(ind - got["did_estimate"]) < 1e-4


def test_cohens_kappa_identity(spark):
    got = run_entry(spark, "eval_cohens_kappa").iloc[0]
    po, pe, k = got["observed_agreement"], got["expected_agreement"], got["kappa"]
    # kappa = (po - pe) / (1 - pe), to the 1e-6 output rounding
    assert abs(k - (po - pe) / (1 - pe)) < 5e-6
    assert 0 <= po <= 1 and 0 <= pe <= 1 and -1 <= k <= 1
    assert got["agree_n"] == round(po * got["n_items"])
    # the raters are genuinely non-degenerate on the synthetic corpus:
    # observed agreement is strictly inside (0, 1)
    assert 0 < got["agree_n"] < got["n_items"]


def test_query_likelihood_semantics(spark):
    got = run_entry(spark, "retrieval_query_likelihood")
    # 5 queries x top-10, ranks dense 1..10, log-likelihood scores negative
    assert len(got) == 50
    assert set(got.groupby("query_id")["rank"].apply(list).map(tuple)) == {
        tuple(range(1, 11))
    }
    assert (got["score"] < 0).all()
    # within a query, score is non-increasing in rank
    for _, g in got.groupby("query_id"):
        s = g.sort_values("rank")["score"].values
        assert (s[:-1] >= s[1:] - 1e-9).all()
    # independent recompute of one query's best score (dense full formula)
    import math

    from tmapreduce_spark.functions.text import BM25_QUERIES, QL_MU

    toks = duckdb.sql(
        f"""SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM '{SF_SMOKE}/documents.parquet'"""
    ).df()
    toks = toks[toks.tok != ""]
    n_c = len(toks)
    q = "q_hash_join"
    terms = BM25_QUERIES[q]
    dl = toks.groupby("doc_id").size()
    best = got[got.query_id == q].sort_values("rank").iloc[0]
    doc = best["doc_id"]
    score = 0.0
    for t in terms:
        tf = ((toks.doc_id == doc) & (toks.tok == t)).sum()
        ctf = (toks.tok == t).sum()
        score += math.log((tf + QL_MU * ctf / n_c) / (dl[doc] + QL_MU))
    assert abs(score - best["score"]) < 1e-4


def test_source_kl_nonneg_and_recompute(spark):
    got = run_entry(spark, "text_source_kl_divergence").set_index("source")
    assert (got["kl_nats"] >= 0).all()
    import numpy as np

    toks = duckdb.sql(
        f"""SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM '{SF_SMOKE}/documents.parquet'"""
    ).df()
    toks = toks[toks.tok != ""]
    n_all = len(toks)
    ctf = toks.groupby("tok").size()
    for src, g in toks.groupby("source"):
        n_s = len(g)
        cnt = g.groupby("tok").size()
        kl = sum(
            (c / n_s) * np.log((c / n_s) / (ctf[t] / n_all)) for t, c in cnt.items()
        )
        assert abs(kl - got.loc[src, "kl_nats"]) < 1e-5
        assert got.loc[src, "n_tokens"] == n_s


def test_deletion_cascade_reconciliation(spark):
    got = run_entry(spark, "pipeline_deletion_cascade").set_index("tbl")
    assert list(got.index) == ["customer", "orders", "lineitem"]
    # independent recompute of every level from raw parquet
    c = duckdb.sql(f"SELECT c_custkey FROM '{SF_SMOKE}/customer.parquet'").df()
    o = duckdb.sql(
        f"SELECT o_orderkey, o_custkey FROM '{SF_SMOKE}/orders.parquet'"
    ).df()
    li = duckdb.sql(f"SELECT l_orderkey FROM '{SF_SMOKE}/lineitem.parquet'").df()
    del_c = (c.c_custkey % 50 == 0).sum()
    del_o = (o.o_custkey % 50 == 0).sum()
    doomed = set(o[o.o_custkey % 50 == 0].o_orderkey)
    del_l = li.l_orderkey.isin(doomed).sum()
    for tbl, total, deleted in (
        ("customer", len(c), del_c),
        ("orders", len(o), del_o),
        ("lineitem", len(li), del_l),
    ):
        r = got.loc[tbl]
        assert r["rows_total"] == total and r["rows_deleted"] == deleted
        assert r["rows_after"] == total - deleted
        assert abs(r["pct_deleted"] - deleted / total) < 1e-6


def test_leakage_safe_split_invariants(spark):
    got = run_entry(spark, "pipeline_leakage_safe_split").iloc[0]
    # the safe assignment NEVER leaks a near-dup edge across the split
    assert got["leaked_edges_safe"] == 0
    # the naive doc_id hash demonstrably does (the whole point of the op)
    assert got["leaked_edges_naive"] > 0
    assert got["n_train_safe"] + got["n_val_safe"] == got["n_docs"]
    assert got["n_train_naive"] + got["n_val_naive"] == got["n_docs"]
    # ~80/20 with hash noise
    assert 0.7 < got["n_train_safe"] / got["n_docs"] < 0.9
    # cluster-consistency recomputed independently: components from the CC
    # entry itself, split by md5 of the representative
    cc = run_entry(spark, "dedup_cluster_resolve")
    import hashlib

    def bucket(k: int) -> int:
        return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 100

    reps = dict(zip(cc.doc_id, cc.cluster_id))
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    n_train = sum(
        1 for d in range(n_docs) if bucket(reps.get(d, d)) < 80
    )
    assert n_train == got["n_train_safe"]


def test_tukey_hsd_identities(spark):
    got = run_entry(spark, "agg_tukey_hsd")
    assert len(got) == 10  # C(5,2) priority pairs
    o = duckdb.sql(
        f"SELECT o_orderpriority, o_totalprice FROM '{SF_SMOKE}/orders.parquet'"
    ).df()
    groups = {p: g["o_totalprice"] for p, g in o.groupby("o_orderpriority")}
    grand = o["o_totalprice"].mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups.values())
    sst = ((o["o_totalprice"] - grand) ** 2).sum()
    msw = (sst - ssb) / (len(o) - len(groups))
    for _, r in got.iterrows():
        a, b = groups[r["prio_a"]], groups[r["prio_b"]]
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        diff = a.mean() - b.mean()
        assert abs(r["mean_diff"] - diff) < 5e-3
        q = abs(diff) / ((msw / 2 * (1 / len(a) + 1 / len(b))) ** 0.5)
        assert abs(r["q_stat"] - q) < 1e-4


def test_cuped_identities(spark):
    got = run_entry(spark, "events_cuped_lift").iloc[0]
    e = duckdb.sql(
        f"""SELECT user_id, epoch_us(ts) >= 1705363200000000 AS post, value
            FROM '{SF_SMOKE}/events.parquet' WHERE event_type = 'purchase'"""
    ).df()
    per = e.pivot_table(
        index="user_id", columns="post", values="value", aggfunc="sum", fill_value=0
    ).rename(columns={False: "x", True: "y"})
    for c in ("x", "y"):
        if c not in per:
            per[c] = 0.0
    import numpy as np

    x, y = per["x"].values, per["y"].values
    treat = per.index.values % 2 == 0
    assert got["n_users"] == len(per)
    assert got["n_treat"] == treat.sum()
    theta = np.cov(x, y, bias=True)[0, 1] / x.var()
    assert abs(got["theta"] - theta) < 1e-3
    lift_raw = y[treat].mean() - y[~treat].mean()
    lift_adj = lift_raw - theta * (x[treat].mean() - x[~treat].mean())
    assert abs(got["lift_raw"] - lift_raw) < 1e-2
    assert abs(got["lift_adjusted"] - lift_adj) < 1e-2
    rho = np.corrcoef(x, y)[0, 1]
    assert abs(got["var_ratio"] - (1 - rho * rho)) < 1e-3


def test_cc_min_labels_spark_equals_union_find(spark):
    """The factored _cc_min_labels (now shared by dedup_cluster_resolve and
    the leakage-safe split) against union-find ground truth on adversarial
    fixed graphs: a long path (worst-case diameter), a star, two cliques
    joined by a bridge, and isolated pairs."""
    from tmapreduce_spark.functions.dedup import _cc_min_labels

    graphs = {
        "path": [(i, i + 1) for i in range(10, 24)],
        "star": [(50, i) for i in range(51, 60)],
        "cliques_bridge": [
            (a, b) for a in range(100, 104) for b in range(100, 104) if a < b
        ]
        + [(a, b) for a in range(200, 204) for b in range(200, 204) if a < b]
        + [(103, 200)],
        "pairs": [(300, 301), (302, 303), (304, 305)],
    }
    for name, pairs in graphs.items():
        # ground truth via union-find
        parent = {}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in pairs:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        e = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
        edges = e.unionAll(e.selectExpr("doc_b AS doc_a", "doc_a AS doc_b"))
        got = {
            r["doc_id"]: r["label"] for r in _cc_min_labels(edges).collect()
        }
        assert got == want, name


def test_brown_forsythe_identity(spark):
    got = run_entry(spark, "agg_levene_brown_forsythe").iloc[0]
    o = duckdb.sql(
        f"""SELECT o_orderpriority p, floor(o_totalprice*100+0.5) v
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    med = o.groupby("p")["v"].apply(lambda s: s.sort_values().iloc[(len(s) - 1) // 2])
    z = (o.v - o.p.map(med)).abs()
    groups = [z[o.p == p] for p in sorted(o.p.unique())]
    n, k = len(o), len(groups)
    assert got["n_total"] == n and got["k_groups"] == k
    assert got["df1"] == k - 1 and got["df2"] == n - k
    zbar = z.mean()
    num = sum(len(g) * (g.mean() - zbar) ** 2 for g in groups) / (k - 1)
    den = sum(((g - g.mean()) ** 2).sum() for g in groups) / (n - k)
    assert abs(got["w_stat"] - num / den) < 1e-4
    assert got["ss_between_z"] >= 0 and got["ss_within_z"] >= 0


# --- wave 6 ------------------------------------------------------------------


def test_kruskal_wallis_identity(spark):
    got = run_entry(spark, "agg_kruskal_wallis").iloc[0]
    o = duckdb.sql(
        f"""SELECT o_orderpriority p,
                   CAST(floor(o_totalprice + 0.5) AS BIGINT) v
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    n, k = len(o), o.p.nunique()
    assert got["n_total"] == n and got["k_groups"] == k
    # exact tie sum
    c = o.v.value_counts()
    assert got["tie_sum"] == int((c**3 - c).sum())
    # H from pandas average ranks (mid-rank ties)
    r = o.v.rank(method="average")
    h = 12.0 / (n * (n + 1)) * sum(
        r[o.p == p].sum() ** 2 / (o.p == p).sum() for p in o.p.unique()
    ) - 3 * (n + 1)
    c_corr = 1 - (c**3 - c).sum() / (n**3 - n)
    assert abs(got["h_stat"] - h) < 1e-4
    assert abs(got["h_corrected"] - h / c_corr) < 1e-4
    assert abs(got["epsilon_sq"] - (h - k + 1) / (n - k)) < 1e-5


def test_jarque_bera_identity(spark):
    got = run_entry(spark, "agg_jarque_bera").set_index("event_type")
    e = duckdb.sql(
        f"""SELECT event_type t, CAST(floor(value) AS BIGINT) w
            FROM '{SF_SMOKE}/events.parquet'"""
    ).df()
    for t, g in e.groupby("t"):
        w = g.w.astype(float)
        n = len(w)
        m = w.mean()
        m2 = ((w - m) ** 2).mean()
        g1 = ((w - m) ** 3).mean() / m2**1.5
        g2 = ((w - m) ** 4).mean() / m2**2 - 3
        jb = n / 6 * (g1**2 + g2**2 / 4)
        row = got.loc[t]
        assert row["n"] == n
        assert abs(row["skewness"] - g1) < 1e-5, t
        assert abs(row["kurtosis_excess"] - g2) < 1e-5, t
        assert abs(row["jb_stat"] - jb) / jb < 1e-5, t


def test_char_entropy_identity(spark):
    import collections
    import math

    got = run_entry(spark, "text_char_entropy").set_index("source")
    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF_SMOKE}/documents.parquet'"
    ).df()
    src = docs.source.iloc[0]
    bi = collections.Counter()
    for txt in docs[docs.source == src].text:
        for i in range(len(txt) - 1):
            bi[txt[i : i + 2]] += 1
    uni = collections.Counter()
    for bg, cnt in bi.items():
        uni[bg[0]] += cnt
    n = sum(bi.values())

    def ent_bits(cnts):
        return (
            math.log(n) - sum(c * math.log(c) for c in cnts.values()) / n
        ) / math.log(2)

    row = got.loc[src]
    assert row["n_bigrams"] == n
    assert row["n_distinct_bigrams"] == len(bi)
    assert abs(row["h_char_bits"] - ent_bits(uni)) < 1e-5
    assert abs(row["h_bigram_bits"] - ent_bits(bi)) < 1e-5
    # the conditional entropy is the chain-rule difference, and every
    # entropy obeys 0 <= H <= log2(cells)
    assert abs(
        row["h_cond_bits"] - (row["h_bigram_bits"] - row["h_char_bits"])
    ) < 3e-6
    assert 0 <= row["h_cond_bits"] <= row["h_char_bits"] + 1e-9


def test_jl_distortion_matches_numpy(spark):
    import numpy as np

    from tmapreduce_spark.functions.similarity import (
        _JL_SIGNS,
        JL_K,
        JL_SAMPLE,
    )

    got = run_entry(spark, "embedding_jl_distortion").iloc[0]
    emb = duckdb.sql(
        f"""SELECT embedding FROM '{SF_SMOKE}/embeddings.parquet'
            WHERE vec_id < {JL_SAMPLE} ORDER BY vec_id"""
    ).df()
    x = np.floor(np.stack(emb.embedding.values).astype(np.float64) * 1e6 + 0.5)
    x = x.astype(np.int64)
    s = np.array(_JL_SIGNS, dtype=np.int64)  # (k, dim)
    y = x @ s.T  # (n, k) exact ints (magnitudes << 2^53 via int64 matmul)
    n = x.shape[0]
    ratios = []
    for a in range(n):
        dx2 = ((x[a] - x[a + 1 :]) ** 2).sum(axis=1)
        dy2 = ((y[a] - y[a + 1 :]) ** 2).sum(axis=1)
        keep = dx2 > 0
        r = dy2[keep] / (JL_K * dx2[keep])
        ratios.extend(np.floor(r * 1e6 + 0.5).astype(np.int64).tolist())
    ratios = np.array(ratios, dtype=np.int64)
    assert got["n_pairs"] == len(ratios) == n * (n - 1) // 2
    assert got["min_ratio"] == ratios.min() / 1e6
    assert got["max_ratio"] == ratios.max() / 1e6
    mean = np.floor(ratios.sum() / 1e6 / len(ratios) * 1e6 + 0.5) / 1e6
    assert got["mean_ratio"] == mean
    # JL sanity: the sign projection is unbiased, so the mean concentrates
    assert 0.85 <= got["mean_ratio"] <= 1.15


def test_incremental_rollup_reconciles(spark):
    got = run_entry(spark, "pipeline_incremental_rollup")
    o = duckdb.sql(
        f"""SELECT o_orderkey k, o_totalprice p,
                   strftime(o_orderdate, '%Y-%m') m
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    # month coverage and count identity: after = before + inserts - deletes
    per = o.groupby("m")
    assert list(got.month) == sorted(o.m.unique())
    for _, row in got.iterrows():
        g = per.get_group(row.month)
        ins = int((g.k % 20 == 2).sum())
        dels = int((g.k % 20 == 1).sum())
        assert row.n_before == len(g)
        assert row.n_after == len(g) + ins - dels, row.month
        # revenue_after recomputed from the post-image in exact micro ints
        micro = np.floor(g.p.values * 1e6 + 0.5).astype(np.int64)
        upd = np.floor(g.p.values * 11 / 10 * 1e6 + 0.5).astype(np.int64)
        mod20 = (g.k % 20).values
        s_after = (
            micro[(mod20 != 0) & (mod20 != 1)].sum()  # kept + insert source
            + upd[mod20 == 0].sum()  # updated
            + micro[mod20 == 2].sum()  # the inserted copies
        )
        assert row.revenue_after == round_half_up_cents(s_after), row.month


def round_half_up_cents(s_micro: int) -> float:
    s = int(s_micro)
    cents = (s + 5000) // 10000 if s >= 0 else -((-s + 5000) // 10000)
    return cents / 100


# --- wave 7 ------------------------------------------------------------------


def test_ljung_box_identity(spark):
    got = run_entry(spark, "events_ljung_box").iloc[0]
    hours = duckdb.sql(
        f"""SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h
            FROM '{SF_SMOKE}/events.parquet'"""
    ).df()
    lo, hi = int(hours.h.min()), int(hours.h.max())
    x = np.zeros(hi - lo + 1, dtype=np.int64)
    for h, c in hours.h.value_counts().items():
        x[int(h) - lo] = c
    n = len(x)
    assert got["n_obs"] == n and got["h_lags"] == 12
    m = x.mean()
    c0 = ((x - m) ** 2).sum()
    q = 0.0
    for k in range(1, 13):
        ck = ((x[:-k] - m) * (x[k:] - m)).sum()
        q += (ck / c0) ** 2 / (n - k)
    q *= n * (n + 2)
    assert abs(got["q_stat"] - q) / q < 1e-5


def test_friedman_identity(spark):
    got = run_entry(spark, "agg_friedman").iloc[0]
    o = duckdb.sql(
        f"""SELECT strftime(o_orderdate, '%Y-%m') m, o_orderpriority p,
                   floor(o_totalprice*100+0.5) vq
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    cells = o.groupby(["m", "p"]).vq.agg(["sum", "count"])
    cells["mean"] = cells["sum"] / cells["count"]
    piv = cells["mean"].unstack()
    piv = piv.dropna()  # complete blocks only
    b, k = piv.shape
    assert got["b_blocks"] == b and got["k_treatments"] == k
    ranks = piv.rank(axis=1, method="first")  # priority order breaks ties
    rj = ranks.sum(axis=0)
    chi2 = 12.0 / (b * k * (k + 1)) * (rj**2).sum() - 3 * b * (k + 1)
    assert abs(got["chi2_stat"] - chi2) < 1e-4
    assert abs(got["kendall_w"] - chi2 / (b * (k - 1))) < 1e-5


def test_boundary_stitch_bruteforce(spark):
    got = run_entry(spark, "dedup_boundary_stitch")
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).df()
    texts = dict(zip(docs.doc_id, docs.text))
    # brute force: all pairs, maximal suffix/prefix overlap in [12, 256]
    want = {}
    by_prefix = {}
    for b_id, tb in texts.items():
        if len(tb) >= 12:
            by_prefix.setdefault(tb[:12], []).append(b_id)
    for a_id, ta in texts.items():
        if len(ta) < 12:
            continue
        for b_id in by_prefix.get(ta[-12:], []):
            if a_id == b_id:
                continue
            tb = texts[b_id]
            best = 0
            for L in range(12, min(256, len(ta), len(tb)) + 1):
                if ta[-L:] == tb[:L]:
                    best = L
            if best:
                want[(a_id, b_id)] = best
    have = {(r.doc_a, r.doc_b): r.overlap_len for r in got.itertuples()}
    assert have == want
    assert len(have) > 0  # non-trivial at the smoke SF (13 pairs)


# --- wave 8 ------------------------------------------------------------------


def test_grubbs_identity(spark):
    got = run_entry(spark, "agg_grubbs_test").set_index("o_orderpriority")
    o = duckdb.sql(
        f"""SELECT o_orderpriority p, floor(o_totalprice*100+0.5) v
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    for p, g in o.groupby("p"):
        v = g.v.astype(float)
        m, sd = v.mean(), v.std(ddof=1)
        gstat = max(v.max() - m, m - v.min()) / sd
        row = got.loc[p]
        assert row["n"] == len(v)
        assert abs(row["g_stat"] - gstat) < 1e-5, p
        assert row["tail"] == ("upper" if v.max() - m >= m - v.min() else "lower")
        assert abs(row["sd_price"] - sd / 100) < 1e-4


def test_pot_identity(spark):
    got = run_entry(spark, "events_peak_over_threshold").set_index("event_type")
    e = duckdb.sql(
        f"""SELECT event_type t, CAST(floor(value*1e6+0.5) AS BIGINT) v
            FROM '{SF_SMOKE}/events.parquet'"""
    ).df()
    for t, g in e.groupby("t"):
        v = g.v.sort_values().reset_index(drop=True)
        # quantile_disc(0.9): smallest value with cume_dist >= 0.9
        import math
        u = int(v.iloc[math.ceil(0.9 * len(v)) - 1])
        exc = g.v[g.v > u]
        row = got.loc[t]
        assert row["n"] == len(g)
        assert row["threshold_p90"] == u / 1e6, t
        assert row["n_exceed"] == len(exc), t
        assert abs(row["mean_excess"] - (exc - u).mean() / 1e6) < 1e-5, t
        assert row["max_value"] == g.v.max() / 1e6


def test_mcnemar_consistent_with_overlap_audit(spark):
    got = run_entry(spark, "eval_mcnemar_dedup").iloc[0]
    audit = run_entry(spark, "dedup_methods_overlap").set_index(
        ["method_a", "method_b"]
    )
    row = audit.loc[("minhash", "simhash")]
    assert got["n_minhash"] == row["n_a"]
    assert got["n_simhash"] == row["n_b"]
    assert got["n_both"] == row["n_both"]
    b, c = got["n_only_minhash"], got["n_only_simhash"]
    assert got["n_minhash"] == got["n_both"] + b
    assert got["n_simhash"] == got["n_both"] + c
    # Edwards continuity correction clamps at zero (r09 ADVICE): equal
    # nonzero discordant cells give exactly 0, never 1/(b+c)
    want = 0.0 if b + c == 0 else max(abs(b - c) - 1, 0) ** 2 / (b + c)
    assert abs(got["chi2_mcnemar"] - want) < 1e-6
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert got["n_docs"] == n_docs


def test_scd2_pit_partitions_the_fact(spark):
    got = run_entry(spark, "join_scd2_point_in_time")
    n_li = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchone()[0]
    # every lineitem matched exactly one dimension version
    assert got.n_items.sum() == n_li
    # spot-check one multi-version customer end to end in pandas
    o = duckdb.sql(
        f"""SELECT o_orderkey, o_custkey, o_orderstatus,
                   strftime(o_orderdate, '%Y-%m-%d') od
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df().sort_values(["o_custkey", "od", "o_orderkey"])
    multi = o.groupby("o_custkey").o_orderstatus.nunique()
    cust = multi[multi > 1].index[0]
    hist = o[o.o_custkey == cust]
    li = duckdb.sql(
        f"""SELECT l.l_orderkey, strftime(l.l_shipdate, '%Y-%m-%d') sd
            FROM '{SF_SMOKE}/lineitem.parquet' l"""
    ).df()
    li = li[li.l_orderkey.isin(set(hist.o_orderkey))]
    # rebuild intervals
    vers = []
    prev = None
    for _, r in hist.iterrows():
        if prev is None or r.o_orderstatus != prev:
            vers.append([r.o_orderstatus, r.od, None])
            prev = r.o_orderstatus
    for i in range(len(vers) - 1):
        vers[i][2] = vers[i + 1][1]
    vers[0][1] = "0000-00-00"  # the initial version is back-dated
    for _, r in li.iterrows():
        matches = [
            s for s, vf, vt in vers if r.sd >= vf and (vt is None or r.sd < vt)
        ]
        assert len(matches) == 1, (cust, r.sd, vers)


# --- wave 9 ------------------------------------------------------------------


def test_wilcoxon_identity(spark):
    got = run_entry(spark, "agg_wilcoxon_signed_rank").iloc[0]
    med = duckdb.sql(
        f"""WITH o AS (
              SELECT strftime(o_orderdate, '%Y-%m') m, o_orderpriority p,
                     CAST(floor(o_totalprice*100+0.5) AS BIGINT) vq
              FROM '{SF_SMOKE}/orders.parquet'
              WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
            SELECT m, p, CAST(quantile_disc(vq, 0.5) AS BIGINT) med
            FROM o GROUP BY m, p"""
    ).df()
    piv = med.pivot(index="m", columns="p", values="med").dropna()
    d = (piv["1-URGENT"] - piv["5-LOW"]).astype("int64")
    d = d[d != 0]
    n = len(d)
    assert got["n_pairs"] == n
    r = d.abs().rank(method="average")
    wp = r[d > 0].sum()
    assert got["w_plus"] == wp
    assert got["w_minus"] == n * (n + 1) / 2 - wp
    c = d.abs().value_counts()
    tie = int((c**3 - c).sum())
    assert got["tie_sum"] == tie
    var = n * (n + 1) * (2 * n + 1) / 24 - tie / 48
    z = (wp - n * (n + 1) / 4) / var**0.5
    assert abs(got["z_stat"] - z) < 1e-5
    # W+ + W- exhausts the rank mass
    assert got["w_plus"] + got["w_minus"] == n * (n + 1) / 2


def test_conversion_ztest_identity(spark):
    got = run_entry(spark, "events_conversion_ztest").iloc[0]
    pu = duckdb.sql(
        f"""SELECT user_id,
                   max(CASE WHEN event_type = 'purchase' AND value > 200
                       THEN 1 ELSE 0 END) c
            FROM '{SF_SMOKE}/events.parquet' GROUP BY user_id"""
    ).df()
    t, c = pu[pu.user_id % 2 == 0], pu[pu.user_id % 2 != 0]
    assert got["n_treat"] == len(t) and got["n_ctrl"] == len(c)
    assert got["x_treat"] == t.c.sum() and got["x_ctrl"] == c.c.sum()
    p1, p0 = t.c.mean(), c.c.mean()
    pp = pu.c.mean()
    z = (p1 - p0) / (pp * (1 - pp) * (1 / len(t) + 1 / len(c))) ** 0.5
    assert abs(got["z_stat"] - z) < 1e-5
    # non-degenerate by construction: both rates strictly inside (0, 1)
    assert 0 < got["rate_treat"] < 1 and 0 < got["rate_ctrl"] < 1


def test_bloom_fpr_bruteforce(spark):
    import hashlib

    got = run_entry(spark, "sketch_bloom_fpr_audit").iloc[0]
    keys = duckdb.sql(
        f"SELECT o_orderkey FROM '{SF_SMOKE}/orders.parquet'"
    ).df().o_orderkey.tolist()
    n = len(keys)
    m = 1 << ((10 * n - 1).bit_length())
    assert got["n_keys"] == n and got["m_bits"] == m

    def pos(j, key):
        # Kirsch-Mitzenmacher: one md5 per key, pos_j = h1 + j*h2 mod m
        d = hashlib.md5(f"bf:{key}".encode()).hexdigest()
        h1 = int(d[:15], 16) % m
        h2 = (int(d[15:30], 16) % m) | 1
        return (h1 + j * h2) % m

    bits = {pos(j, k) for k in keys for j in range(7)}
    assert got["n_bits_set"] == len(bits)
    # probe offset is derived in-plan as max(o_orderkey) + 1 (r09 ADVICE:
    # a fixed 1e9 stops being provably-absent once TPC-H keys pass 1e9)
    off = max(keys) + 1
    fp = sum(1 for k in keys if all(pos(j, k + off) in bits for j in range(7)))
    assert got["n_false_positives"] == fp
    # the audit is calibrated: measured within 3x of theory (both nonzero
    # at the smoke SF thanks to the 10-bits/key in-plan sizing)
    assert got["fpr_theory"] > 0
    assert got["n_false_positives"] > 0
    assert got["fpr_measured"] <= 3 * got["fpr_theory"] + 1e-3


def test_mr_secondary_sort_order_contract(spark):
    """The secondary-sort reduce must be ORDER-PROOF: feeding the same kvs
    in reversed input order yields byte-identical results, and a sample
    customer's sequence equals the pandas chronological recompute."""
    from tmapreduce_spark.mapreduce import MapReduceEngine

    o = duckdb.sql(
        f"""SELECT CAST(o_custkey AS VARCHAR) AS key,
                   strftime(o_orderdate, '%Y-%m-%d')
                     || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                     || '|' || o_orderstatus AS value
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    eng = MapReduceEngine(spark)
    fwd = eng.apply_df(
        spark.createDataFrame(o), "secondarysort"
    ).toPandas().sort_values(["key", "result"], ignore_index=True)
    rev = eng.apply_df(
        spark.createDataFrame(o.iloc[::-1]), "secondarysort"
    ).toPandas().sort_values(["key", "result"], ignore_index=True)
    assert fwd.equals(rev)
    # pandas recompute of one customer's chronological status string
    got = run_entry(spark, "mr_secondary_sort")
    key = got.key.iloc[0]
    seqs = got[(got.key == key) & (got.result != key)]
    ours = o[o.key == key].value.sort_values()
    want = "".join(v.split("|", 1)[1] for v in ours)
    assert list(seqs.result) == [want]


# --- wave 11 -----------------------------------------------------------------


def test_bartlett_identity(spark):
    import math

    got = run_entry(spark, "agg_bartlett_test").iloc[0]
    o = duckdb.sql(
        f"""SELECT o_orderpriority p, floor(o_totalprice*100+0.5) v
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    groups = [g.v.astype(float) for _, g in o.groupby("p")]
    n, k = len(o), len(groups)
    assert got["n_total"] == n and got["k_groups"] == k
    s2 = [g.var(ddof=1) for g in groups]
    sp2 = sum((len(g) - 1) * v for g, v in zip(groups, s2)) / (n - k)
    t_num = (n - k) * math.log(sp2) - sum(
        (len(g) - 1) * math.log(v) for g, v in zip(groups, s2)
    )
    c = 1 + (sum(1 / (len(g) - 1) for g in groups) - 1 / (n - k)) / (3 * (k - 1))
    assert abs(got["correction_c"] - c) < 1e-5
    assert abs(got["bartlett_t"] - t_num / c) < 1e-4
    assert got["bartlett_t"] >= 0


def test_cochran_armitage_identity(spark):
    got = run_entry(spark, "agg_cochran_armitage").iloc[0]
    o = duckdb.sql(
        f"""SELECT o_orderpriority p,
                   CAST(o_totalprice > 300000 AS INT) big
            FROM '{SF_SMOKE}/orders.parquet'"""
    ).df()
    tab = o.groupby("p").big.agg(["count", "sum"]).sort_index()
    n = tab["count"].to_numpy(dtype=float)
    x = tab["sum"].to_numpy(dtype=float)
    w = np.arange(1, 6, dtype=float)
    nn, xx = n.sum(), x.sum()
    pbar = xx / nn
    num = (w * (x - n * pbar)).sum()
    var = pbar * (1 - pbar) * ((w * w * n).sum() - (w * n).sum() ** 2 / nn)
    assert got["n_total"] == nn and got["n_big"] == xx
    assert abs(got["z_trend"] - num / var**0.5) < 1e-5
    # non-degenerate: rate strictly inside (0, 1)
    assert 0 < got["rate_overall"] < 1


def test_assortativity_identity(spark):
    got = run_entry(spark, "graph_assortativity").iloc[0]
    pairs = run_entry(spark, "dedup_minhash_pairs")[["doc_a", "doc_b"]]
    e = pd.concat(
        [
            pairs.rename(columns={"doc_a": "src", "doc_b": "dst"}),
            pairs.rename(columns={"doc_a": "dst", "doc_b": "src"}),
        ],
        ignore_index=True,
    )
    deg = e.groupby("src").size()
    dx = e.src.map(deg).astype(float)
    dy = e.dst.map(deg).astype(float)
    assert got["n_dir_edges"] == len(e)
    r = np.corrcoef(dx, dy)[0, 1]
    assert abs(got["assortativity"] - r) < 1e-5
    # the smoke-SF near-dup graph is a union of cliques (exact-duplicate
    # families), and within a k-clique every edge joins two degree-(k-1)
    # nodes — assortativity exactly 1 is the CORRECT structural value,
    # not a bug (a star graph would read -1; mixed corpora land between)
    assert got["assortativity"] == 1.0


# --- wave 12 -----------------------------------------------------------------


def test_herfindahl_identity(spark):
    got = run_entry(spark, "agg_herfindahl").iloc[0]
    rev = duckdb.sql(
        f"""SELECT p_brand,
                   sum(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)) r
            FROM '{SF_SMOKE}/lineitem.parquet'
            JOIN '{SF_SMOKE}/part.parquet' ON l_partkey = p_partkey
            GROUP BY p_brand"""
    ).df()
    shares = 100 * rev.r / rev.r.sum()
    hhi = (shares**2).sum()
    n = len(rev)
    assert got["n_brands"] == n
    assert abs(got["hhi"] - hhi) < 1e-3
    assert abs(got["top_share_pct"] - shares.max()) < 1e-4
    assert abs(got["effective_brands"] - 10000 / hhi) < 1e-3
    # HHI bounds: equal split floor 10000/n, monopoly ceiling 10000
    assert 10000 / n - 1e-6 <= got["hhi"] <= 10000


def test_power_mde_consistency(spark):
    got = run_entry(spark, "events_experiment_power_mde").iloc[0]
    z = run_entry(spark, "events_conversion_ztest").iloc[0]
    # identical per-user cells as the z-test entry
    assert got["n_treat"] == z["n_treat"] and got["n_ctrl"] == z["n_ctrl"]
    p = (z["x_treat"] + z["x_ctrl"]) / (z["n_treat"] + z["n_ctrl"])
    se = (p * (1 - p) * (1 / z["n_treat"] + 1 / z["n_ctrl"])) ** 0.5
    mde = (1.959964 + 0.841621) * se
    assert abs(got["baseline_rate"] - p) < 1e-5
    assert abs(got["mde_abs"] - mde) < 1e-5
    assert abs(got["mde_rel"] - mde / p) < 1e-4
    # sanity: with these arm sizes the experiment can only see large lifts
    assert got["mde_abs"] > 0


def test_bucketed_join_entry_plan_is_exchange_free(spark):
    """The catalog entry's JOIN subplan must actually run bucket-to-bucket:
    SortMergeJoin present, zero Exchange touching the join (the final
    5-row priority rollup may exchange — the join key partitioning does
    not serve the priority key)."""
    from tmapreduce_spark.plans.explain import physical_plan

    df = catalog()["layout_bucketed_join"].fn(spark, SF_SMOKE)
    plan = physical_plan(df)
    # tree section only (details re-list every node, including the rollup
    # exchange, and would false-positive a substring check)
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree
    below_join = tree[tree.index("SortMergeJoin"):]
    assert "Exchange" not in below_join, below_join
    # the one exchange in the whole plan is the 5-row priority rollup,
    # ABOVE the join — the join key itself never reshuffles
    assert tree.count("Exchange") == 1, tree
    got = df.toPandas().sort_values("o_orderpriority", ignore_index=True)
    want = duckdb.sql(
        f"""SELECT o_orderpriority, count(*) n
            FROM '{SF_SMOKE}/lineitem.parquet'
            JOIN '{SF_SMOKE}/orders.parquet' ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1"""
    ).df()
    assert list(got.n_items) == list(want.n)


def test_event_study_identities(spark):
    got = run_entry(spark, "events_did_event_study")
    assert len(got) == 10
    assert list(got.period) == list(range(10))
    assert list(got.is_post) == [0] * 5 + [1] * 5
    e = duckdb.sql(
        f"""SELECT user_id % 2 = 0 AS t,
                   (epoch_us(ts) - 1704067200000000) // 259200000000 AS per,
                   value
            FROM '{SF_SMOKE}/events.parquet' WHERE event_type = 'purchase'"""
    ).df()
    # per-period diff recompute and the baseline-netting identity
    pre = e[e.per < 5]
    bl = pre[pre.t].value.mean() - pre[~pre.t].value.mean()
    for _, row in got.iterrows():
        g = e[e.per == row.period]
        diff = g[g.t].value.mean() - g[~g.t].value.mean()
        assert abs(row["diff"] - diff) < 1e-4, row.period
        assert abs(row["coef"] - (diff - bl)) < 1e-4, row.period
    # the n-weighted mean of pre-period coefficients is ~0 by construction
    pre_rows = got[got.is_post == 0]
    w = (pre_rows.n_treat + pre_rows.n_ctrl).to_numpy(dtype=float)
    assert abs((pre_rows.coef.to_numpy() * w).sum() / w.sum()) < 0.2
