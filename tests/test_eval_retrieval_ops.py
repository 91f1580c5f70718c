"""Semantic invariants for the retrieval/eval/compaction family: BM25 vs a
full independent pure-Python recompute, the workload rankers built on it
(RRF fusion, PRF expansion, dual-ranker MRR, exposure fairness),
confusion-matrix sweep vs a direct per-threshold recount, calibration-bin
mass conservation, compaction-plan greedy-packing equivalence, and
winsorized/trimmed means vs numpy on the raw column."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

from tests.conftest import SF_SMOKE, mround6, run_entry
from tmapreduce_spark.functions.text import (
    BM25_TOP_K,
    COMPACT_TARGET_BYTES,
    QC_LABEL_CUT,
    _qc_score_label,
    eval_calibration_bins,
    eval_threshold_sweep,
    pipeline_compaction_plan,
    text_bm25_topk,
)
from tmapreduce_spark.operators.analytics import agg_winsorized_stats
from tmapreduce_spark.plans import physical_plan
from tmapreduce_spark.sources.catalog import load_table

def test_bm25_matches_independent_python_recompute(spark):
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    for doc_id, text in docs.items():
        toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
        dl[doc_id] = len(toks)
        for t in toks:
            tf[(doc_id, t)] = tf.get((doc_id, t), 0) + 1
    df: dict[str, int] = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    n_docs = len([d for d in dl if dl[d] > 0])
    sum_dl = sum(dl.values())

    expected: dict[int, list[tuple[str, float]]] = {}
    for (doc_id, t), f in tf.items():
        idf = (n_docs - df[t] + 0.5) / (df[t] + 0.5)
        norm = f + 1.2 * (0.25 + 0.75 * dl[doc_id] * n_docs / sum_dl)
        score = mround6(idf * (f * 2.2) / norm)
        expected.setdefault(doc_id, []).append((t, score))
    top: dict[tuple[int, str], tuple[float, int]] = {}
    for doc_id, terms in expected.items():
        terms.sort(key=lambda ts: (-ts[1], ts[0]))
        for rank, (t, s) in enumerate(terms[:BM25_TOP_K], start=1):
            top[(doc_id, t)] = (s, rank)

    got = text_bm25_topk(spark, SF_SMOKE).collect()
    assert len(got) == len(top)
    for r in got:
        s, rank = top[(r["doc_id"], r["tok"])]
        assert r["bm25"] == s, (r["doc_id"], r["tok"])
        assert r["rank"] == rank
        assert r["tf"] == tf[(r["doc_id"], r["tok"])]
        assert r["df"] == df[r["tok"]]
        assert r["dl"] == dl[r["doc_id"]]


def test_bm25_search_matches_independent_python_recompute(spark):
    from tmapreduce_spark.functions.text import (
        BM25_QUERIES,
        BM25_SEARCH_TOP_K,
        text_bm25_search,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    tf: dict[tuple[int, str], int] = {}
    dl: dict[int, int] = {}
    for doc_id, text in docs.items():
        toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
        dl[doc_id] = len(toks)
        for t in toks:
            tf[(doc_id, t)] = tf.get((doc_id, t), 0) + 1
    df: dict[str, int] = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    n_docs = len([d for d in dl if dl[d] > 0])
    sum_dl = sum(dl.values())

    def bm25_micro(doc_id: int, t: str) -> int:
        f = tf[(doc_id, t)]
        idf = (n_docs - df[t] + 0.5) / (df[t] + 0.5)
        norm = f + 1.2 * (0.25 + 0.75 * dl[doc_id] * n_docs / sum_dl)
        return math.floor(idf * (f * 2.2) / norm * 1_000_000 + 0.5)

    expected: dict[tuple[str, int], tuple[int, int, int]] = {}
    for q, terms in BM25_QUERIES.items():
        per_doc: dict[int, tuple[int, int]] = {}
        for doc_id in docs:
            hit = [t for t in terms if (doc_id, t) in tf]
            if hit:
                per_doc[doc_id] = (len(hit), sum(bm25_micro(doc_id, t) for t in hit))
        ranked = sorted(per_doc.items(), key=lambda kv: (-kv[1][1], kv[0]))
        for rank, (doc_id, (n_hit, micro)) in enumerate(
            ranked[:BM25_SEARCH_TOP_K], start=1
        ):
            expected[(q, doc_id)] = (n_hit, micro, rank)

    got = text_bm25_search(spark, SF_SMOKE).collect()
    assert len(got) == len(expected)
    for r in got:
        n_hit, micro, rank = expected[(r["query_id"], r["doc_id"])]
        assert r["n_hit_terms"] == n_hit
        assert r["score"] == micro / 1_000_000
        assert r["rank"] == rank


def test_threshold_sweep_matches_direct_recount_and_is_monotone(spark):
    per = {
        r["doc_id"]: (r["score_micro"], r["label"])
        for r in _qc_score_label(spark, SF_SMOKE).collect()
    }
    rows = {r["threshold"]: r for r in eval_threshold_sweep(spark, SF_SMOKE).collect()}
    assert len(rows) == 9
    prev_tp = None
    for k in range(56, 65):
        thr_micro = k * 10_000
        tp = sum(1 for s, l in per.values() if s >= thr_micro and l == 1)
        fp = sum(1 for s, l in per.values() if s >= thr_micro and l == 0)
        fn = sum(1 for s, l in per.values() if s < thr_micro and l == 1)
        tn = sum(1 for s, l in per.values() if s < thr_micro and l == 0)
        r = rows[k / 100]
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn), k
        assert tp + fp + fn + tn == len(per)
        if tp + fp:
            assert r["precision"] == mround6(tp / (tp + fp))
        else:
            assert r["precision"] is None
        assert r["recall"] == mround6(tp / (tp + fn))
        assert r["f1"] == mround6(2 * tp / (2 * tp + fp + fn))
        # raising the threshold can only shrink the predicted-positive set
        if prev_tp is not None:
            assert tp <= prev_tp
        prev_tp = tp


def test_calibration_bins_conserve_mass_and_recompute(spark):
    per = [
        (r["score_micro"], r["label"])
        for r in _qc_score_label(spark, SF_SMOKE).collect()
    ]
    got = {r["bin"]: r for r in eval_calibration_bins(spark, SF_SMOKE).collect()}
    assert sum(r["n"] for r in got.values()) == len(per)
    bins: dict[int, list[tuple[int, int]]] = {}
    for s, l in per:
        bins.setdefault(s // 20_000, []).append((s, l))
    assert set(got) == set(bins)
    for b, members in bins.items():
        n = len(members)
        n_pos = sum(l for _, l in members)
        ms = sum(s for s, _ in members) / 1_000_000 / n
        pr = n_pos / n
        r = got[b]
        assert (r["n"], r["n_pos"]) == (n, n_pos)
        assert r["mean_score"] == mround6(ms)
        assert r["pos_rate"] == mround6(pr)
        assert r["abs_gap"] == mround6(abs(ms - pr))


def test_compaction_plan_equals_greedy_walk_and_spans_are_disjoint(spark):
    inv = sorted(
        (
            (r["source"], r["doc_id"], r["n_chars"])
            for r in load_table(spark, SF_SMOKE, "documents")
            .select("source", "doc_id", "n_chars")
            .collect()
        )
    )
    expected: dict[tuple[str, int], list[tuple[int, int]]] = {}
    cum: dict[str, int] = {}
    for source, doc_id, n_chars in inv:
        excl = cum.get(source, 0)
        expected.setdefault((source, excl // COMPACT_TARGET_BYTES), []).append(
            (doc_id, n_chars)
        )
        cum[source] = excl + n_chars
    got = {
        (r["source"], r["file_seq"]): r
        for r in pipeline_compaction_plan(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for key, members in expected.items():
        r = got[key]
        assert r["n_docs"] == len(members)
        assert r["bytes"] == sum(b for _, b in members)
        assert r["first_doc"] == min(d for d, _ in members)
        assert r["last_doc"] == max(d for d, _ in members)
    # files within a source cover disjoint, increasing doc_id spans
    by_source: dict[str, list] = {}
    for (source, seq), r in got.items():
        by_source.setdefault(source, []).append((seq, r["first_doc"], r["last_doc"]))
    for source, files in by_source.items():
        files.sort()
        for (s1, _, last1), (s2, first2, _) in zip(files, files[1:]):
            assert s2 == s1 + 1, f"{source}: file_seq gap"
            assert first2 > last1, f"{source}: overlapping spans"


def test_winsorized_stats_match_numpy(spark):
    rows = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    groups: dict[str, list[float]] = {}
    for r in rows:
        groups.setdefault(r["o_orderpriority"], []).append(r["o_totalprice"])
    got = {r["o_orderpriority"]: r for r in agg_winsorized_stats(spark, SF_SMOKE).collect()}
    assert set(got) == set(groups)
    for g, vals in groups.items():
        v = np.sort(np.array(vals))
        n = len(v)
        # percentile_disc(q): smallest value whose cume_dist >= q
        p05 = v[max(0, math.ceil(0.05 * n) - 1)]
        p95 = v[max(0, math.ceil(0.95 * n) - 1)]
        cents = np.floor(np.clip(v, p05, p95) * 1_000_000 + 0.5).astype(np.int64)
        winsor_mean = mround6(float(cents.sum()) / 1_000_000 / n)
        kept = v[(v >= p05) & (v <= p95)]
        kept_cents = np.floor(kept * 1_000_000 + 0.5).astype(np.int64)
        trim_mean = mround6(float(kept_cents.sum()) / 1_000_000 / len(kept))
        r = got[g]
        assert r["n"] == n
        assert r["p05"] == p05 and r["p95"] == p95, g
        assert r["winsor_mean"] == winsor_mean
        assert (r["trim_n"], r["trim_mean"]) == (len(kept), trim_mean)
        # robustness direction: both estimates live inside the cut interval
        assert p05 <= r["trim_mean"] <= p95
        assert p05 <= r["winsor_mean"] <= p95


def test_kanonymity_audit_matches_direct_recount(spark):
    from tmapreduce_spark.functions.text import K_ANON, pipeline_kanonymity_audit

    rows = load_table(spark, SF_SMOKE, "documents").select("lang", "source").collect()
    sizes: dict[tuple[str, str], int] = {}
    for r in rows:
        sizes[(r["lang"], r["source"])] = sizes.get((r["lang"], r["source"]), 0) + 1
    n_risk = sum(n for n in sizes.values() if n < K_ANON)
    share = mround6(n_risk / len(rows))
    got = pipeline_kanonymity_audit(spark, SF_SMOKE).collect()
    assert len(got) == len(sizes)
    assert sum(r["n"] for r in got) == len(rows)
    for r in got:
        n = sizes[(r["lang"], r["source"])]
        assert r["n"] == n
        assert r["at_risk"] == (n < K_ANON)
        assert r["corpus_risk_share"] == share
    # the audit must flag at least one group each way on the fixture corpus,
    # otherwise the operator is untested on the interesting branch
    flags = {r["at_risk"] for r in got}
    assert flags == {True, False}


def test_new_ops_prune_scans_and_avoid_cartesian(spark):
    plan = physical_plan(pipeline_compaction_plan(spark, SF_SMOKE))
    # the packing plan must never read the text payload — stats columns only
    schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in schema and "n_chars" in schema
    assert "CartesianProduct" not in plan

    bm25 = physical_plan(text_bm25_topk(spark, SF_SMOKE))
    assert "CartesianProduct" not in bm25
    # corpus-stat join is the broadcast model-side pattern, not a shuffle
    assert "BroadcastNestedLoopJoin" in bm25 or "BroadcastHashJoin" in bm25

    sweep = physical_plan(eval_threshold_sweep(spark, SF_SMOKE))
    assert "CartesianProduct" not in sweep


def test_rrf_consistent_with_component_ranks(spark):
    got = run_entry(spark, "retrieval_rrf_hybrid")
    for _, r in got.iterrows():
        expect = 0
        if not pd.isna(r["rank_bm25"]):
            expect += 10**6 // (60 + int(r["rank_bm25"]))
        if not pd.isna(r["rank_cov"]):
            expect += 10**6 // (60 + int(r["rank_cov"]))
        assert int(r["rrf_micro"]) == expect
    for q, g in got.groupby("query_id"):
        ranks = sorted(g["rank_fused"])
        assert ranks == list(range(1, len(g) + 1)), q
        assert len(g) <= 5
        # fused order follows (rrf desc, doc_id asc)
        srt = g.sort_values(["rrf_micro", "doc_id"], ascending=[False, True])
        assert list(srt["rank_fused"]) == ranks, q


def test_prf_expansion_semantics(spark):
    got = run_entry(spark, "retrieval_prf_expansion")
    from tmapreduce_spark.functions.text import BM25_QUERIES, PRF_FB_DOCS

    assert len(got) == 5 * 5
    # expansion never re-suggests an original query term
    for _, r in got.iterrows():
        assert r["term"] not in BM25_QUERIES[r["query_id"]]
    assert (got["n_fb_docs"] <= PRF_FB_DOCS).all()
    assert (got["weight"] > 0).all()
    # w(t) = sum tf/dl over <= 10 feedback docs, each addend <= 1
    assert (got["weight"] <= PRF_FB_DOCS).all()
    # within a query, weight is non-increasing in rank
    for _, g in got.groupby("query_id"):
        s = g.sort_values("rank")["weight"].values
        assert (s[:-1] >= s[1:] - 1e-9).all()


def test_mrr_dual_ranker_semantics(spark):
    got = run_entry(spark, "eval_mrr_dual_ranker").set_index("ranker")
    assert set(got.index) == {"bm25", "ql_dirichlet"}
    assert (got["n_queries"] == 5).all()
    assert (got["n_hit_queries"] <= got["n_queries"]).all()
    # MRR bounds: 0 <= mrr <= n_hit/n (each hit contributes at most 1/1)
    for _, r in got.iterrows():
        assert 0 <= r["mrr"] <= r["n_hit_queries"] / r["n_queries"] + 1e-9
    # independent recompute of BM25's MRR from the catalog's own toplist:
    # text_bm25_search is the identical ranking, qrels = strict-AND docs
    from tmapreduce_spark.functions.text import BM25_QUERIES

    top = run_entry(spark, "text_bm25_search")
    toks = duckdb.sql(
        f"""SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM '{SF_SMOKE}/documents.parquet'"""
    ).df()
    toks = toks[toks.tok != ""]
    doc_toks = toks.groupby("doc_id")["tok"].apply(set)
    rr_sum = 0.0
    for q, terms in BM25_QUERIES.items():
        rel = {d for d, s in doc_toks.items() if all(t in s for t in terms)}
        g = top[top.query_id == q].sort_values("rank")
        hit = g[g.doc_id.isin(rel)]
        if len(hit):
            rr_sum += 1.0 / hit.iloc[0]["rank"]
    assert abs(got.loc["bm25", "mrr"] - rr_sum / 5) < 1e-5


def test_exposure_fairness_identities(spark):
    got = run_entry(spark, "eval_exposure_fairness")
    assert len(got) == 20
    assert abs(got.corpus_share.sum() - 1) < 1e-4
    assert abs(got.exposure_share.sum() - 1) < 1e-4
    # disparity is genuinely non-uniform on this corpus (some sources get
    # buried, some over-exposed) — the audit has signal
    assert got.disparity_ratio.min() < 0.9 < got.disparity_ratio.max()
