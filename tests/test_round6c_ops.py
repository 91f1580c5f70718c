"""Independent-recompute property tests for the round-6 third wave:
Cramér's V, CV folds, DP count release, Kendall tau@10, and label
propagation — each verified against a from-scratch Python recompute."""

from __future__ import annotations

import hashlib
from fractions import Fraction

import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE, catalog, run_entry, smoke_table


def _md5_60bit(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_cramers_v_matches_pandas_recompute(spark):
    got = run_entry(spark, "agg_cramers_v")
    assert len(got) == 1
    d = smoke_table("documents", "doc_id, lang, source, n_chars")
    ct = pd.crosstab(d["lang"], d["source"]).to_numpy().astype(float)
    n = ct.sum()
    r = ct.sum(axis=1, keepdims=True)
    c = ct.sum(axis=0, keepdims=True)
    e = r @ c / n
    chi2 = ((ct - e) ** 2 / e).sum()
    v = np.sqrt(chi2 / (n * (min(ct.shape) - 1)))
    row = got.iloc[0]
    assert row["n"] == int(n)
    assert row["n_langs"] == ct.shape[0] and row["n_sources"] == ct.shape[1]
    assert abs(row["chi2"] - chi2) < 2e-5
    assert abs(row["cramers_v"] - v) < 2e-6


def test_cv_folds_matches_python_hash(spark):
    got = run_entry(spark, "pipeline_cv_folds")
    d = smoke_table("documents", "doc_id, lang, source, n_chars")
    d["fold"] = [(_md5_60bit(str(i)) % 5) for i in d["doc_id"]]
    ref = (
        d.groupby(["fold", "source"])
        .agg(n_docs=("doc_id", "size"), n_chars=("n_chars", "sum"))
        .reset_index()
    )
    merged = got.merge(ref, on=["fold", "source"], suffixes=("", "_ref"))
    assert len(merged) == len(got) == len(ref)
    assert (merged["n_docs"] == merged["n_docs_ref"]).all()
    assert (merged["n_chars"] == merged["n_chars_ref"]).all()
    for fold, g in got.groupby("fold"):
        assert g["fold_total"].nunique() == 1
        assert g["n_docs"].sum() == g["fold_total"].iloc[0]
    assert got["n_docs"].sum() == len(d)


def test_dp_counts_matches_exact_cdf(spark):
    from tmapreduce_spark.functions.text import DP_NOISE_B, _dp_noise_rows

    rows = _dp_noise_rows()
    # intervals tile [0, 2^60) exactly, in order
    assert rows[0][1] == 0 and rows[-1][2] == 1 << 60
    for (_, _, hi), (_, lo, _) in zip(rows, rows[1:]):
        assert hi == lo
    # interval widths match the exact rational pmf to 1 ulp of the grid
    G = 1 << 60
    for k, lo, hi in rows:
        p = Fraction(1, 3) * Fraction(1, 2 ** abs(k))
        if abs(k) == DP_NOISE_B:
            p += Fraction(1, 3) * Fraction(1, 2 ** DP_NOISE_B)
        assert abs((hi - lo) - int(p * G)) <= 1, k
    got = run_entry(spark, "pipeline_dp_counts")
    d = smoke_table("documents", "doc_id, lang, source, n_chars")
    true = d.groupby("lang").size()
    for _, r in got.iterrows():
        assert r["n_true"] == true[r["lang"]]
        u = _md5_60bit(r["lang"])
        (k,) = [k for k, lo, hi in rows if lo <= u < hi]
        assert r["noise"] == k
        assert r["n_released"] == max(0, r["n_true"] + k)


def test_kendall_matches_python_recompute(spark):
    exact = catalog()["ann_topk_cosine"].fn(spark, SF_SMOKE).toPandas()
    approx = catalog()["ann_ivf_topk"].fn(spark, SF_SMOKE).toPandas()
    got = run_entry(spark, "eval_rank_kendall").set_index("query_id")
    e = {
        (q, n): r
        for q, n, r in zip(exact["query_id"], exact["neighbor_id"], exact["rank"])
    }
    for q, g in approx.groupby("query_id"):
        common = [
            (int(r["rank"]), e[(q, r["neighbor_id"])])
            for _, r in g.iterrows()
            if (q, r["neighbor_id"]) in e
        ]
        common.sort()
        conc = disc = 0
        for i in range(len(common)):
            for j in range(i + 1, len(common)):
                if common[i][1] < common[j][1]:
                    conc += 1
                elif common[i][1] > common[j][1]:
                    disc += 1
        assert got.loc[q, "n_common"] == len(common)
        assert got.loc[q, "concordant"] == conc
        assert got.loc[q, "discordant"] == disc
        if len(common) >= 2:
            tau = (conc - disc) / (len(common) * (len(common) - 1) / 2)
            assert abs(got.loc[q, "tau"] - tau) < 2e-6


def test_label_propagation_matches_python_recompute(spark):
    from tmapreduce_spark.functions.dedup import _LP_ROUNDS, _LP_SEED_MOD

    pairs = catalog()["dedup_minhash_pairs"].fn(spark, SF_SMOKE).toPandas()
    adj: dict[int, set[int]] = {}
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        adj.setdefault(int(a), set()).add(int(b))
        adj.setdefault(int(b), set()).add(int(a))
    docs = smoke_table("documents", "doc_id, lang")
    lang = dict(zip(docs["doc_id"], docs["lang"]))
    labels = {
        v: (lang[v] if v % _LP_SEED_MOD == 0 else None) for v in adj
    }
    seeds = {v for v in adj if v % _LP_SEED_MOD == 0}
    for _ in range(_LP_ROUNDS):
        nxt = {}
        for v in adj:
            if v in seeds:
                nxt[v] = labels[v]
                continue
            votes: dict[str, int] = {}
            for u in adj[v]:
                if labels[u] is not None:
                    votes[labels[u]] = votes.get(labels[u], 0) + 1
            if votes:
                best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                nxt[v] = best
            else:
                nxt[v] = labels[v]
        labels = nxt
    got = run_entry(spark, "graph_label_propagation").set_index("doc_id")
    assert set(got.index) == set(adj)
    for v in adj:
        assert got.loc[v, "is_seed"] == (1 if v in seeds else 0)
        expect = labels[v]
        val = got.loc[v, "label"]
        assert (pd.isna(val) and expect is None) or val == expect, v


def test_wav_tone_probe_matches_python_recompute(spark):
    """Independent recompute: sample formula + md5 params + twiddles all
    re-derived here (hashlib/math, no shared helpers except the literal
    table, which IS the contract)."""
    import math

    got = run_entry(spark, "multimodal_wav_tone_probe")
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet' LIMIT 20"
    ).df()
    for _, d in docs.iterrows():
        hv = int(hashlib.md5(d["text"].encode()).hexdigest()[:15], 16)
        seed, n = hv % 65536, 256 + hv % 1024
        s = [(seed * 31 + 7 * i * i) % 65536 - 32768 for i in range(n)]
        for period in (8, 16):
            tw_c = [
                int(math.floor(math.cos(2 * math.pi * ph / period) * 1e6 + 0.5))
                for ph in range(period)
            ]
            tw_s = [
                int(math.floor(math.sin(2 * math.pi * ph / period) * 1e6 + 0.5))
                for ph in range(period)
            ]
            cs = sum(s[i] * tw_c[i % period] for i in range(n))
            ss = sum(s[i] * tw_s[i % period] for i in range(n))
            row = got[(got["doc_id"] == d["doc_id"]) & (got["period"] == period)]
            assert len(row) == 1
            assert row.iloc[0]["cs_units"] == cs and row.iloc[0]["ss_units"] == ss
            amp = 2 * math.sqrt(cs * cs + ss * ss) / 1e6 / n
            assert abs(row.iloc[0]["amplitude"] - amp) < 2e-6
