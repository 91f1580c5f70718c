"""Independent-recompute property tests for the round-7 wave: exact ROC-AUC
(rank form), step-form PR-AUC, RAKE keyword extraction, per-node local
clustering coefficient, and the deterministic permutation test."""

from __future__ import annotations

import collections
import hashlib
import itertools

import pandas as pd

from tests.conftest import SF_SMOKE, run_entry
from tmapreduce_spark.functions.text import (
    RAKE_MAX_PHRASE,
    RAKE_STOPWORDS,
    RAKE_TOP_K,
)
from tmapreduce_spark.operators.analytics import PERM_B


def _score_label(spark) -> pd.DataFrame:
    from tmapreduce_spark.functions.text import _qc_score_label

    return _qc_score_label(spark, SF_SMOKE).toPandas()


# ---------------------------------------------------------------------------
# eval_auc_roc
# ---------------------------------------------------------------------------


def test_auc_roc_matches_python_recompute(spark):
    per = _score_label(spark)
    got = run_entry(spark, "eval_auc_roc").iloc[0]
    # midrank AUC recomputed directly from the per-doc scores
    df = per.sort_values("score_micro").reset_index(drop=True)
    df["rank"] = df.index + 1
    avg = df.groupby("score_micro")["rank"].transform("mean")
    n_pos = int(per["label"].sum())
    n_neg = len(per) - n_pos
    rank_pos = float(avg[df["label"] == 1].sum())
    auc = (rank_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
    assert abs(got["auc_roc"] - round(auc, 6)) < 2e-6
    assert abs(got["gini"] - (2 * got["auc_roc"] - 1)) < 2e-6
    assert 0.0 <= got["auc_roc"] <= 1.0


# ---------------------------------------------------------------------------
# eval_pr_auc
# ---------------------------------------------------------------------------


def test_pr_auc_matches_python_recompute(spark):
    per = _score_label(spark)
    got = run_entry(spark, "eval_pr_auc").iloc[0]
    by = (
        per.groupby("score_micro")
        .agg(n_s=("label", "size"), p_s=("label", "sum"))
        .sort_index(ascending=False)
    )
    cum_n = cum_tp = 0
    ap_micro = 0
    for _, r in by.iterrows():
        cum_n += int(r["n_s"])
        cum_tp += int(r["p_s"])
        ap_micro += (int(r["p_s"]) * cum_tp * 1_000_000) // cum_n
    n_pos = int(per["label"].sum())
    assert got["n_pos"] == n_pos and got["n_total"] == len(per)
    assert abs(got["pr_auc"] - round(ap_micro / 1e6 / n_pos, 6)) < 2e-6
    assert 0.0 <= got["pr_auc"] <= 1.0
    # a classifier with any signal beats the base rate on this fixture is NOT
    # guaranteed (weights are hash-random by design) — only the identity is


# ---------------------------------------------------------------------------
# text_keyword_rake
# ---------------------------------------------------------------------------


def _python_rake(texts: list[str]):
    stop = set(RAKE_STOPWORDS)
    phrases = []  # (phrase tuple)
    for t in texts:
        toks = [w for w in t.strip().lower().split() if w]
        run: list[str] = []
        for w in toks:
            if w in stop:
                if run:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(w)
        if run:
            phrases.append(tuple(run))
    freq: collections.Counter = collections.Counter()
    deg: collections.Counter = collections.Counter()
    for p in phrases:
        for w in p:
            freq[w] += 1
            deg[w] += len(p)
    w_milli = {w: (1000 * deg[w]) // freq[w] for w in freq}
    scored: dict[tuple, int] = {}
    occ: collections.Counter = collections.Counter()
    for p in phrases:
        occ[p] += 1
        scored[p] = sum(w_milli[w] for w in p)
    rows = [
        (" ".join(p), len(p), occ[p], scored[p] / 1000)
        for p in occ
        if len(p) <= RAKE_MAX_PHRASE
    ]
    rows.sort(key=lambda r: (-r[3], r[0]))
    return rows[:RAKE_TOP_K]


def test_rake_matches_python_recompute(spark):
    import duckdb

    texts = [
        r[0]
        for r in duckdb.sql(f"SELECT text FROM '{SF_SMOKE}/documents.parquet'").fetchall()
    ]
    want = _python_rake(texts)
    got = run_entry(spark, "text_keyword_rake")
    got_rows = [
        (r["phrase"], int(r["n_words"]), int(r["n_occurrences"]), float(r["rake_score"]))
        for _, r in got.iterrows()
    ]
    assert got_rows == want


def test_rake_phrases_are_stopword_free_and_bounded(spark):
    got = run_entry(spark, "text_keyword_rake")
    assert len(got) <= RAKE_TOP_K
    for _, r in got.iterrows():
        words = r["phrase"].split(" ")
        assert 1 <= len(words) <= RAKE_MAX_PHRASE
        assert int(r["n_words"]) == len(words)
        assert not (set(words) & set(RAKE_STOPWORDS))
    # ordered top-k
    scores = got["rake_score"].tolist()
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# graph_clustering_coeff
# ---------------------------------------------------------------------------


def test_clustering_coeff_matches_python_recompute(spark):
    from tmapreduce_spark.functions.dedup import dedup_minhash_pairs

    edges = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for _, r in dedup_minhash_pairs(spark, SF_SMOKE)
        .select("doc_a", "doc_b")
        .toPandas()
        .iterrows()
    }
    adj: dict[int, set[int]] = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    got = run_entry(spark, "graph_clustering_coeff")
    assert set(got["doc_id"]) == set(adj)
    for _, r in got.iterrows():
        v = int(r["doc_id"])
        deg = len(adj[v])
        tri = sum(
            1 for u, w in itertools.combinations(sorted(adj[v]), 2) if w in adj[u]
        )
        assert int(r["degree"]) == deg
        assert int(r["n_triangles"]) == tri, v
        if deg < 2:
            assert pd.isna(r["clustering_coeff"])
        else:
            cc = 2 * tri / (deg * (deg - 1))
            assert abs(float(r["clustering_coeff"]) - round(cc, 6)) < 2e-6
            assert 0.0 <= float(r["clustering_coeff"]) <= 1.0


def test_clustering_coeff_triangle_identity(spark):
    """Σ_v tri(v) = 3·(global triangle count) — each triangle has 3 corners."""
    got = run_entry(spark, "graph_clustering_coeff")
    total3 = int(got["n_triangles"].sum())
    assert total3 % 3 == 0


# ---------------------------------------------------------------------------
# agg_permutation_test
# ---------------------------------------------------------------------------


def test_permutation_test_matches_python_recompute(spark):
    import duckdb

    rows = duckdb.sql(
        f"""SELECT l_orderkey, l_linenumber, l_returnflag,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            FROM '{SF_SMOKE}/lineitem.parquet'
            WHERE l_returnflag IN ('R', 'A')"""
    ).fetchall()
    sr = sum(c for _, _, f, c in rows if f == "R")
    nr = sum(1 for r in rows if r[2] == "R")
    sa = sum(c for _, _, f, c in rows if f == "A")
    na = sum(1 for r in rows if r[2] == "A")
    obs_milli = (1000 * sr) // nr - (1000 * sa) // na
    hashes = [
        (int(hashlib.md5(f"{ok}-{ln}".encode()).hexdigest()[:15], 16), c)
        for ok, ln, _, c in rows
    ]
    n_extreme = 0
    for b in range(1, PERM_B + 1):
        s1 = n1 = s0 = n0 = 0
        for h, c in hashes:
            if (h >> (b - 1)) & 1:
                s1 += c
                n1 += 1
            else:
                s0 += c
                n0 += 1
        stat = (1000 * s1) // n1 - (1000 * s0) // n0
        if abs(stat) >= abs(obs_milli):
            n_extreme += 1
    got = run_entry(spark, "agg_permutation_test").iloc[0]
    assert int(got["n_r"]) == nr and int(got["n_a"]) == na
    assert abs(float(got["obs_mean_diff"]) - obs_milli / 100000) < 1e-9
    assert int(got["n_permutations"]) == PERM_B
    assert int(got["n_extreme"]) == n_extreme
    assert abs(float(got["p_value"]) - round((1 + n_extreme) / (PERM_B + 1), 6)) < 2e-6
    assert 0.0 < float(got["p_value"]) <= 1.0


# ---------------------------------------------------------------------------
# eval_brier_decomposition
# ---------------------------------------------------------------------------


def test_brier_decomposition_matches_python_recompute(spark):
    per = _score_label(spark)
    got = run_entry(spark, "eval_brier_decomposition").iloc[0]
    n = len(per)
    brier = float(
        ((per["score_micro"] - 1_000_000 * per["label"]) ** 2).sum()
    ) / 1e12 / n
    ybar = per["label"].sum() / n
    bins = per.assign(bin=per["score_micro"] // 20000).groupby("bin")
    rel9 = res9 = 0
    for _, g in bins:
        nk = len(g)
        sbar = g["score_micro"].sum() / 1e6 / nk
        yk = g["label"].sum() / nk
        rel9 += int((nk * (sbar - yk) ** 2) * 1e9 + 0.5)
        res9 += int((nk * (yk - ybar) ** 2) * 1e9 + 0.5)
    assert int(got["n_docs"]) == n
    assert abs(got["brier"] - round(brier, 6)) < 2e-6
    assert abs(got["reliability"] - round(rel9 / 1e9 / n, 6)) < 2e-6
    assert abs(got["resolution"] - round(res9 / 1e9 / n, 6)) < 2e-6
    assert abs(got["uncertainty"] - round(ybar * (1 - ybar), 6)) < 2e-6
    # the Murphy identity holds up to within-bin forecast variance
    assert abs(got["brier_binned"] - got["brier"]) < 0.02
    assert got["reliability"] >= 0 and got["resolution"] >= 0


# ---------------------------------------------------------------------------
# dedup_lsh_scurve
# ---------------------------------------------------------------------------


def test_lsh_scurve_theory_and_empirical(spark):
    from tmapreduce_spark.functions.dedup import BAND_R, NUM_PERMS, dedup_minhash_pairs

    got = run_entry(spark, "dedup_lsh_scurve").sort_values("jaccard_lo")
    assert len(got) == 20  # s20 = 0..19; bucket 0 keeps jaccard < 0.05 visible
    assert got["jaccard_lo"].iloc[0] == 0.0 and got["detect_prob"].iloc[0] == 0.0
    b = NUM_PERMS // BAND_R
    for _, r in got.iterrows():
        s = r["jaccard_lo"]
        want = 1.0 - (1.0 - s**BAND_R) ** b
        assert abs(r["detect_prob"] - round(want, 6)) < 2e-6
    # S-curve is monotone increasing
    probs = got["detect_prob"].tolist()
    assert probs == sorted(probs)
    # empirical bucket counts sum to the verified pair count
    n_pairs = dedup_minhash_pairs(spark, SF_SMOKE).count()
    assert int(got["n_pairs"].sum()) == n_pairs


# ---------------------------------------------------------------------------
# embedding_mmr_rerank
# ---------------------------------------------------------------------------


def test_mmr_rerank_greedy_invariants(spark):
    import numpy as np

    from tmapreduce_spark.functions.similarity import (
        MMR_CANDIDATES,
        MMR_PICKS,
        QUANT,
    )

    got = run_entry(spark, "embedding_mmr_rerank").sort_values("pick_order")
    assert len(got) == MMR_PICKS
    assert got["pick_order"].tolist() == list(range(1, MMR_PICKS + 1))
    assert got["vec_id"].nunique() == MMR_PICKS
    # pick 1 is pure relevance: its mmr is 0.7 * its relevance
    p1 = got.iloc[0]
    assert abs(p1["mmr_score"] - 0.7 * p1["relevance"]) < 1e-9
    # pick 1 has the max relevance of all picks
    assert p1["relevance"] == got["relevance"].max()
    # full python recompute of the greedy sequence from raw embeddings
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.floor(
        np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]) * QUANT + 0.5
    ).astype(np.int64)
    nrm = np.sqrt(np.einsum("ij,ij->i", E, E).astype(np.float64))
    qi = int(np.where(ids == 0)[0][0])
    dots = (E @ E[qi]).astype(np.float64)
    rel_u = np.floor(dots / (nrm * nrm[qi]) * 1e6 + 0.5).astype(np.int64)
    order = sorted(
        [(int(-rel_u[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != 0]
    )[:MMR_CANDIDATES]
    cand = [v for _, v in order]
    relm = {v: -r for r, v in order}
    pos = {int(v): i for i, v in enumerate(ids)}
    picked = []
    remaining = sorted(cand)
    for _ in range(MMR_PICKS):
        best = None
        for d in remaining:
            # max over picked sims, UNclamped — a negative max is a diversity
            # bonus for anti-similar docs (matches the engine and the oracle)
            sus = []
            for p in picked:
                g = float(E[pos[d]] @ E[pos[p]])
                sus.append(int(np.floor(g / (nrm[pos[d]] * nrm[pos[p]]) * 1e6 + 0.5)))
            ms = max(sus) if sus else 0
            m10 = 7 * relm[d] - 3 * ms
            if best is None or (-m10, d) < best[0]:
                best = ((-m10, d), d)
        picked.append(best[1])
        remaining.remove(best[1])
    assert got["vec_id"].tolist() == picked


# ---------------------------------------------------------------------------
# window_rolling_p90
# ---------------------------------------------------------------------------


def test_rolling_p90_matches_python_recompute(spark):
    import duckdb

    from tmapreduce_spark.operators.windows import ROLL_P90_W

    got = run_entry(spark, "window_rolling_p90")
    rows = duckdb.sql(
        f"""SELECT user_id, epoch_us(ts), event_id
            FROM '{SF_SMOKE}/events.parquet' ORDER BY user_id, 2, 3"""
    ).fetchall()
    by_user: dict[int, list[int]] = collections.defaultdict(list)
    for u, us, _ in rows:
        by_user[int(u)].append(int(us))
    want = {}
    for u, uss in by_user.items():
        gaps = [b - a for a, b in zip(uss, uss[1:])]
        for i, g in enumerate(gaps):
            frame = sorted(gaps[max(0, i - ROLL_P90_W + 1) : i + 1])
            n = len(frame)
            want[(u, i + 1)] = (g, n, frame[(9 * n + 9) // 10 - 1])
    for _, r in got.iterrows():
        k = (int(r["user_id"]), int(r["seq"]))
        assert k in want
        g, n, p90 = want[k]
        assert (int(r["gap_us"]), int(r["n_window"]), int(r["p90_gap_us"])) == (g, n, p90)
    assert len(got) == len(want)
    # p90 of a frame is always one of the frame's values and >= its median
    assert (got["p90_gap_us"] >= 0).all()


# ---------------------------------------------------------------------------
# window_peak_detect
# ---------------------------------------------------------------------------


def test_peak_detect_matches_python_recompute(spark):
    from tmapreduce_spark.operators.analytics import (
        PEAK_MIN_HEIGHT,
        PEAK_NEIGHBORS,
        _dense_hourly,
    )

    series = (
        _dense_hourly(spark, SF_SMOKE).toPandas().sort_values("hidx").reset_index(drop=True)
    )
    ns = series["n"].tolist()
    hs = series["hidx"].tolist()
    want = {}
    k = PEAK_NEIGHBORS
    for i in range(k, len(ns) - k):
        left = ns[i - k : i]
        right = ns[i + 1 : i + 1 + k]
        if ns[i] > max(left) and ns[i] > max(right) and ns[i] >= PEAK_MIN_HEIGHT:
            want[hs[i]] = (ns[i], ns[i] - max(min(left), min(right)))
    got = run_entry(spark, "window_peak_detect")
    got_map = {
        int(r["hidx"]): (int(r["peak_height"]), int(r["prominence"]))
        for _, r in got.iterrows()
    }
    assert got_map == want
    assert all(h >= PEAK_MIN_HEIGHT for h, _ in got_map.values())


# ---------------------------------------------------------------------------
# events_attribution_markov
# ---------------------------------------------------------------------------


def test_markov_attribution_matches_python_recompute(spark):
    import duckdb
    import math

    from tmapreduce_spark.operators.analytics import MARKOV_ATTR_K

    rows = duckdb.sql(
        f"""SELECT user_id, event_type
            FROM '{SF_SMOKE}/events.parquet'
            ORDER BY user_id, epoch_us(ts), event_id"""
    ).fetchall()
    by_user: dict[int, list[str]] = collections.defaultdict(list)
    for u, et in rows:
        by_user[int(u)].append(et)
    trans: collections.Counter = collections.Counter()
    for seq in by_user.values():
        if "purchase" in seq:
            seq = seq[: seq.index("purchase") + 1]
        states = ["conv" if s == "purchase" else s for s in seq]
        trans[("start", states[0])] += 1
        for a, b in zip(states, states[1:]):
            trans[(a, b)] += 1
        if states[-1] != "conv":
            trans[(states[-1], "null")] += 1

    def propagate(tr):
        srcs = {s for s, _ in tr}
        n_s = collections.Counter()
        for (s, _), n in tr.items():
            n_s[s] += n
        states = srcs | {d for _, d in tr} | {"conv", "null"}
        p9 = {s: (1_000_000_000 if s == "conv" else 0) for s in states}
        for _ in range(MARKOV_ATTR_K):
            p9 = {
                s: 1_000_000_000
                if s == "conv"
                else 0
                if s == "null" or s not in srcs
                else sum(n * p9[d] for (x, d), n in tr.items() if x == s) // n_s[s]
                for s in states
            }
        return p9.get("start", 0)

    p_full = propagate(trans)
    got = run_entry(spark, "events_attribution_markov").sort_values("channel")
    channels = sorted(
        {s for s, _ in trans} | {d for _, d in trans} - {"start", "conv", "null"}
    )
    channels = [c for c in channels if c not in ("start", "conv", "null")]
    assert got["channel"].tolist() == channels
    for _, r in got.iterrows():
        c = r["channel"]
        tr = collections.Counter()
        for (s, d), n in trans.items():
            if s != c:
                tr[(s, "null" if d == c else d)] += n
        p_rem = propagate(tr)
        assert abs(r["p_conv_full"] - p_full / 1e9) < 1e-12
        assert abs(r["p_conv_removed"] - p_rem / 1e9) < 1e-12
        want_eff = math.floor((p_full - p_rem) / p_full * 1e6 + 0.5) / 1e6
        assert abs(r["removal_effect"] - want_eff) < 1e-12
        # removing a channel can only reduce (or not change) conversion
        assert r["p_conv_removed"] <= r["p_conv_full"] + 1e-12
        assert -1e-12 <= r["removal_effect"] <= 1.0


def test_markov_sql_survives_channel_named_full():
    """The oracle's full-scenario sentinel must not collide with an
    event_type literally named 'full' (ADVICE r7): scenario labels are
    'full' vs 'c:'||channel, with the removed channel carried in a
    separate column. Checked duckdb-only against the same bounded
    propagation in pure Python on journeys that contain a 'full' channel."""
    import math

    import duckdb

    from tmapreduce_spark.operators.analytics import (
        EVENTS_ATTRIBUTION_MARKOV_SQL,
        MARKOV_ATTR_K,
    )

    con = duckdb.connect()
    con.execute(
        """CREATE VIEW events AS SELECT * FROM (VALUES
             (1, 'full',     TIMESTAMP '2024-01-01 00:00:00', 1),
             (1, 'email',    TIMESTAMP '2024-01-01 00:01:00', 2),
             (1, 'purchase', TIMESTAMP '2024-01-01 00:02:00', 3),
             (2, 'email',    TIMESTAMP '2024-01-01 00:00:00', 4),
             (2, 'full',     TIMESTAMP '2024-01-01 00:01:00', 5),
             (3, 'full',     TIMESTAMP '2024-01-01 00:00:00', 6),
             (3, 'purchase', TIMESTAMP '2024-01-01 00:01:00', 7),
             (4, 'ads',      TIMESTAMP '2024-01-01 00:00:00', 8)
           ) v(user_id, event_type, ts, event_id)"""
    )
    got = (
        con.execute(EVENTS_ATTRIBUTION_MARKOV_SQL)
        .df()
        .sort_values("channel")
        .reset_index(drop=True)
    )

    journeys = [
        ["start", "full", "email", "conv"],
        ["start", "email", "full", "null"],
        ["start", "full", "conv"],
        ["start", "ads", "null"],
    ]
    trans: collections.Counter = collections.Counter()
    for j in journeys:
        for s, d in zip(j, j[1:]):
            trans[(s, d)] += 1

    def propagate(tr):
        srcs = {s for s, _ in tr}
        n_s = collections.Counter()
        for (s, _), n in tr.items():
            n_s[s] += n
        states = srcs | {d for _, d in tr} | {"conv", "null"}
        p9 = {s: (10**9 if s == "conv" else 0) for s in states}
        for _ in range(MARKOV_ATTR_K):
            p9 = {
                s: 10**9
                if s == "conv"
                else 0
                if s == "null" or s not in srcs
                else sum(n * p9[d] for (x, d), n in tr.items() if x == s) // n_s[s]
                for s in states
            }
        return p9.get("start", 0)

    p_full = propagate(trans)
    assert got["channel"].tolist() == ["ads", "email", "full"]
    for _, r in got.iterrows():
        c = r["channel"]
        tr: collections.Counter = collections.Counter()
        for (s, d), n in trans.items():
            if s != c:
                tr[(s, "null" if d == c else d)] += n
        p_rem = propagate(tr)
        assert abs(r["p_conv_full"] - p_full / 1e9) < 1e-12
        assert abs(r["p_conv_removed"] - p_rem / 1e9) < 1e-12
        want = math.floor((p_full - p_rem) / p_full * 1e6 + 0.5) / 1e6
        assert abs(r["removal_effect"] - want) < 1e-12
