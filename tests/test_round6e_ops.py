"""Independent-recompute property tests for the round-6 fifth wave:
Jaro-Winkler join, co-purchase link prediction, Theil-Sen trend, and
readability scores."""

from __future__ import annotations

import re


from tests.conftest import SF_SMOKE, run_entry


def test_jaro_winkler_blocking_loses_nothing_vs_brand_only(spark):
    """The (brand, shared-token) canopy must find exactly the pairs an
    unblocked within-brand join finds at the 0.9 threshold (DuckDB's C++
    JW as the independent scorer) — i.e. the canopy discards nothing the
    threshold would keep on this corpus."""
    import duckdb

    got = run_entry(spark, "join_jaro_winkler")
    wide = duckdb.sql(
        f"""SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
                   jaro_winkler_similarity(a.p_name, b.p_name) AS sim
            FROM '{SF_SMOKE}/part.parquet' a
            JOIN '{SF_SMOKE}/part.parquet' b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9"""
    ).df()
    assert set(zip(got["part_a"], got["part_b"])) == set(
        zip(wide["part_a"], wide["part_b"])
    )
    ref = {(a, b): s for a, b, s in zip(wide["part_a"], wide["part_b"], wide["sim"])}
    for _, r in got.iterrows():
        assert abs(r["jw_sim"] - ref[(r["part_a"], r["part_b"])]) < 2e-6


def test_link_prediction_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "graph_link_prediction")
    li = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{SF_SMOKE}/lineitem.parquet'"
    ).df()
    baskets: dict[int, set[int]] = {}
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        baskets.setdefault(int(o), set()).add(int(p))
    pair_n: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        sp = sorted(parts)
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                k = (sp[i], sp[j])
                pair_n[k] = pair_n.get(k, 0) + 1
    edges = {k for k, n in pair_n.items() if n >= 2}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    nodes = sorted(adj)
    for x in nodes:
        nb = sorted(adj[x])
        for i in range(len(nb)):
            for j in range(i + 1, len(nb)):
                k = (nb[i], nb[j])
                expect[k] = expect.get(k, 0) + 1
    expect = {
        k: cn
        for k, cn in expect.items()
        if cn >= 2 and k not in edges
    }
    assert set(zip(got["part_a"], got["part_b"])) == set(expect)
    for _, r in got.iterrows():
        a, b = int(r["part_a"]), int(r["part_b"])
        cn = expect[(a, b)]
        da, db = len(adj[a]), len(adj[b])
        assert r["common_neighbors"] == cn
        assert r["deg_a"] == da and r["deg_b"] == db
        assert abs(r["jaccard"] - cn / (da + db - cn)) < 2e-6


def test_theil_sen_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "agg_theil_sen_trend")
    assert len(got) == 1
    m = duckdb.sql(
        f"""SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mi,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS c
            FROM '{SF_SMOKE}/orders.parquet' GROUP BY 1 ORDER BY 1"""
    ).df()
    pts = list(zip(m["mi"].astype(int), m["c"].astype(int)))
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (mi, ci), (mj, cj) = pts[i], pts[j]
            slopes.append(((cj - ci) / (mj - mi), mi, mj))
    slopes.sort()
    med = slopes[(len(slopes) + 1) // 2 - 1][0]
    row = got.iloc[0]
    assert row["n_months"] == len(pts)
    assert row["n_pairs"] == len(slopes)
    assert abs(row["sen_slope"] - med / 100) < 2e-4


def test_readability_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "text_readability").set_index("doc_id")
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet' LIMIT 40"
    ).df()
    for _, d in docs.iterrows():
        w = len(re.findall(r"[a-z]+", d["text"].lower()))
        s = max(len(re.findall(r"[.!?]+", d["text"])), 1)
        y = len(re.findall(r"[aeiouy]+", d["text"].lower()))
        if w == 0:
            assert d["doc_id"] not in got.index
            continue
        r = got.loc[d["doc_id"]]
        assert r["n_words"] == w and r["n_sentences"] == s and r["n_syllables"] == y
        ease = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
        grade = 0.39 * (w / s) + 11.8 * (y / w) - 15.59
        assert abs(r["flesch_ease"] - ease) < 2e-4
        assert abs(r["fk_grade"] - grade) < 2e-4
