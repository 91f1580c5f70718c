"""Independent-recompute property tests for the round-6 sixth wave:
grid-blocked spatial 1-NN join, CIDR longest-prefix-match join, exact
per-group skewness/kurtosis, and the multiclass confusion-matrix eval."""

from __future__ import annotations

import math
import re


from tests.conftest import SF_SMOKE, catalog, run_entry
from tmapreduce_spark.operators.advanced import (
    GEO_CELL,
    GEO_MX,
    GEO_MY,
    GEO_SPAN,
    LPM_HASH,
    LPM_LENS,
    LPM_SPACE,
)


def _keys(path: str, col: str) -> list[int]:
    import duckdb

    return [r[0] for r in duckdb.sql(f"SELECT {col} FROM '{path}'").fetchall()]


# ---------------------------------------------------------------------------
# join_geo_grid_knn
# ---------------------------------------------------------------------------


def test_geo_knn_matches_brute_force_python(spark):
    """Brute-force Python 1-NN over the full supplier set, restricted to the
    3x3 cell neighborhood, must agree row-for-row (including the -1
    empty-neighborhood sentinel and the (d2, suppkey) tie-break)."""
    got = run_entry(spark, "join_geo_grid_knn").set_index("c_custkey")
    custs = _keys(f"{SF_SMOKE}/customer.parquet", "c_custkey")
    supps = _keys(f"{SF_SMOKE}/supplier.parquet", "s_suppkey")
    sloc = {k: (k * GEO_MX % GEO_SPAN, k * GEO_MY % GEO_SPAN) for k in supps}
    for ck in custs:
        cx, cy = ck * GEO_MX % GEO_SPAN, ck * GEO_MY % GEO_SPAN
        cand = [
            (
                (cx - sx) ** 2 + (cy - sy) ** 2,
                sk,
            )
            for sk, (sx, sy) in sloc.items()
            if abs(cx // GEO_CELL - sx // GEO_CELL) <= 1
            and abs(cy // GEO_CELL - sy // GEO_CELL) <= 1
        ]
        row = got.loc[ck]
        assert row["cx"] == cx and row["cy"] == cy
        assert row["n_candidates"] == len(cand)
        if cand:
            d2, sk = min(cand)
            assert row["nn_suppkey"] == sk and row["nn_dist2"] == d2
        else:
            assert row["nn_suppkey"] == -1 and row["nn_dist2"] == -1


def test_geo_knn_plan_broadcasts_small_side_only(spark):
    """The supplier side (9x exploded) must broadcast; the probe side must
    never hit a nested-loop or cartesian plan."""
    df = catalog()["join_geo_grid_knn"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_geo_knn_has_matches_and_sentinels(spark):
    """The fixture geometry must exercise BOTH branches: real neighbors and
    empty 3x3 neighborhoods."""
    got = run_entry(spark, "join_geo_grid_knn")
    assert (got["nn_suppkey"] >= 0).any()
    assert (got["nn_suppkey"] == -1).any()
    matched = got[got["nn_suppkey"] >= 0]
    # radius bound: a 3x3 neighborhood capture is < 2*sqrt(2) cells away
    assert (matched["nn_dist2"] <= 8 * GEO_CELL * GEO_CELL).all()


# ---------------------------------------------------------------------------
# join_ip_cidr_lpm
# ---------------------------------------------------------------------------


def test_lpm_matches_python_recompute(spark):
    got = run_entry(spark, "join_ip_cidr_lpm").set_index("c_custkey")
    custs = _keys(f"{SF_SMOKE}/customer.parquet", "c_custkey")
    supps = _keys(f"{SF_SMOKE}/supplier.parquet", "s_suppkey")
    routes: dict[tuple[int, int], int] = {}
    for sk in supps:
        plen = 4 + 4 * (sk % 3)
        pkey = (sk * LPM_HASH % LPM_SPACE) >> (32 - plen)
        k = (plen, pkey)
        routes[k] = min(routes.get(k, sk), sk)
    for ck in custs:
        ip = ck * LPM_HASH % LPM_SPACE
        best_len, hop = 0, -1
        for plen in LPM_LENS:
            r = routes.get((plen, ip >> (32 - plen)))
            if r is not None and plen > best_len:
                best_len, hop = plen, r
        row = got.loc[ck]
        assert row["ip"] == ip
        assert row["matched_len"] == best_len, (ck, ip, best_len, row["matched_len"])
        assert row["next_hop"] == hop


def test_lpm_exercises_multiple_lengths(spark):
    """The fixture must produce matches at more than one prefix length AND
    unrouted customers, or the LPM precedence logic is untested."""
    got = run_entry(spark, "join_ip_cidr_lpm")
    lens = set(got["matched_len"])
    assert 0 in lens, "expected some unrouted customers"
    assert len(lens - {0}) >= 2, f"need >=2 matched prefix lengths, got {lens}"


def test_lpm_plan_is_three_broadcast_joins_no_probe_shuffle(spark):
    """The probe (customer) side must reach the output through broadcast
    joins only — LPM never shuffles or explodes the big side."""
    df = catalog()["join_ip_cidr_lpm"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# agg_skew_kurtosis
# ---------------------------------------------------------------------------


def test_skew_kurtosis_matches_numpy(spark):
    import duckdb
    import numpy as np

    got = run_entry(spark, "agg_skew_kurtosis").set_index("o_orderpriority")
    raw = duckdb.sql(
        f"""SELECT o_orderpriority,
                   CAST(floor(datediff('day', o_orderdate, l_shipdate) / 7.0)
                        AS BIGINT) AS w
            FROM '{SF_SMOKE}/lineitem.parquet'
            JOIN '{SF_SMOKE}/orders.parquet' ON l_orderkey = o_orderkey"""
    ).df()
    for prio, grp in raw.groupby("o_orderpriority"):
        w = grp["w"].to_numpy(dtype=np.float64)
        n = len(w)
        m1 = w.mean()
        m2 = ((w - m1) ** 2).mean()
        m3 = ((w - m1) ** 3).mean()
        m4 = ((w - m1) ** 4).mean()
        row = got.loc[prio]
        assert row["n"] == n
        assert math.isclose(row["mean_weeks"], m1, abs_tol=1e-5)
        assert math.isclose(row["var_pop"], m2, abs_tol=1e-4)
        assert math.isclose(row["skewness"], m3 / m2**1.5, abs_tol=1e-5)
        assert math.isclose(row["kurtosis_excess"], m4 / m2**2 - 3, abs_tol=1e-5)


def test_skew_kurtosis_power_sums_fit_int64_at_sf100():
    """The documented headroom claim: 357^4 * (sf100 rows per group) < 2^63."""
    max_w4 = 357**4
    rows_per_group_sf100 = 600_000 * 1000 // 5  # lineitem sf100 / 5 priorities
    assert max_w4 * rows_per_group_sf100 < 2**63


def test_skew_kurtosis_plan_partial_aggregates(spark):
    plan = (
        catalog()["agg_skew_kurtosis"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# eval_confusion_multiclass
# ---------------------------------------------------------------------------


def test_confusion_matches_pandas_recompute(spark):
    cells = run_entry(spark, "lang_id_heuristic")
    got = run_entry(spark, "eval_confusion_multiclass").set_index("cls")
    classes = sorted(cells["label"].unique())
    tp_all = 0
    f1s = []
    for c in classes:
        support = int(cells.loc[cells.label == c, "n_docs"].sum())
        pred_n = int(cells.loc[cells.predicted == c, "n_docs"].sum())
        tp = int(
            cells.loc[(cells.label == c) & (cells.predicted == c), "n_docs"].sum()
        )
        tp_all += tp
        row = got.loc[c]
        assert (row["support"], row["pred_n"], row["tp"]) == (support, pred_n, tp)
        prec = tp / pred_n if pred_n else 0.0
        rec = tp / support
        f1 = 2 * tp / (pred_n + support)
        f1s.append(f1)
        assert math.isclose(row["precision"], prec, abs_tol=1e-6)
        assert math.isclose(row["recall"], rec, abs_tol=1e-6)
        assert math.isclose(row["f1"], f1, abs_tol=1e-6)
    n_all = int(cells["n_docs"].sum())
    assert math.isclose(got["accuracy"].iloc[0], tp_all / n_all, abs_tol=1e-6)
    assert math.isclose(
        got["macro_f1"].iloc[0], sum(f1s) / len(f1s), abs_tol=2e-6
    )


def test_confusion_runtime_plan_reuses_cells_exchange(spark):
    """The scale claim: row/column marginals and the overall stats all hang
    off ONE corpus aggregation — the AQE-final plan must carry a
    ReusedExchange (corpus scanned once, not per marginal)."""
    df = catalog()["eval_confusion_multiclass"].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


# ---------------------------------------------------------------------------
# embedding_silhouette
# ---------------------------------------------------------------------------


def test_silhouette_matches_numpy_recompute(spark):
    """Independent float64/numpy recompute of the centroid silhouette (same
    quantization grid) must agree to the rounding tolerance per label."""
    import duckdb
    import numpy as np

    got = run_entry(spark, "embedding_silhouette").set_index("label")
    raw = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM '{SF_SMOKE}/embeddings.parquet'"
    ).df()
    X = np.floor(
        np.stack(raw["embedding"].to_numpy()).astype(np.float64) * 1_000_000 + 0.5
    ).astype(np.int64)
    labels = sorted(raw["label"].unique())
    C = np.zeros((len(labels), X.shape[1]), dtype=np.int64)
    for i, lab in enumerate(labels):
        sub = X[raw["label"].to_numpy() == lab]
        C[i] = np.floor(sub.sum(axis=0) / len(sub) + 0.5).astype(np.int64)
    own = raw["label"].map({lab: i for i, lab in enumerate(labels)}).to_numpy()
    diff = X[:, None, :] - C[None, :, :]
    d2 = np.einsum("ijk,ijk->ij", diff, diff)
    rows = np.arange(len(raw))
    a2 = d2[rows, own].astype(np.float64)
    d2m = d2.copy()
    d2m[rows, own] = np.iinfo(np.int64).max
    b2 = d2m.min(axis=1).astype(np.float64)
    s = (np.sqrt(b2) - np.sqrt(a2)) / np.sqrt(np.maximum(a2, b2))
    for i, lab in enumerate(labels):
        mask = own == i
        row = got.loc[lab]
        assert row["n"] == mask.sum()
        assert row["n_misassigned"] == int((b2[mask] < a2[mask]).sum())
        assert math.isclose(row["mean_silhouette"], s[mask].mean(), abs_tol=2e-6)


def test_silhouette_bounded_and_sane(spark):
    got = run_entry(spark, "embedding_silhouette")
    assert (got["mean_silhouette"] <= 1.0).all()
    assert (got["mean_silhouette"] >= -1.0).all()
    assert got["n"].sum() == 500  # every vector scored exactly once


def test_silhouette_is_one_arrow_pass(spark):
    plan = (
        catalog()["embedding_silhouette"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan  # the L-fan-out lives in numpy, not the plan


# ---------------------------------------------------------------------------
# layout_skipping_audit
# ---------------------------------------------------------------------------


def test_skipping_audit_tells_the_layout_story(spark):
    """The audit's whole point, pinned: date-sort prunes the date probe
    best; Z-order (customer x price dims) prunes the price probe best;
    natural order prunes nothing; nobody ever skips a zone that contains a
    matching row (scanned >= matching, so read_amp >= 1)."""
    got = run_entry(spark, "layout_skipping_audit").set_index("layout")
    nat, ds, zo = got.loc["natural"], got.loc["date_sorted"], got.loc["zorder"]
    assert ds["skipped_date"] > nat["skipped_date"]
    assert ds["skipped_date"] > zo["skipped_date"]
    assert zo["skipped_price"] > nat["skipped_price"]
    assert zo["skipped_price"] > ds["skipped_price"]
    for _, r in got.iterrows():
        assert r["scanned_date"] >= r["match_date"]
        assert r["scanned_price"] >= r["match_price"]
        assert r["read_amp_date"] >= 1.0 and r["read_amp_price"] >= 1.0


def test_skipping_audit_zone_accounting(spark):
    """Zones partition the table: per layout, zone row counts must sum to
    the table size and zone count must be ceil(n / SKIP_CHUNK)."""
    import duckdb

    from tmapreduce_spark.operators.advanced import SKIP_CHUNK

    got = run_entry(spark, "layout_skipping_audit")
    n = duckdb.sql(f"SELECT count(*) FROM '{SF_SMOKE}/orders.parquet'").fetchone()[0]
    want_zones = -(-n // SKIP_CHUNK)
    assert (got["n_zones"] == want_zones).all()
    # scanned rows can never exceed the table
    assert (got["scanned_date"] <= n).all() and (got["scanned_price"] <= n).all()


# ---------------------------------------------------------------------------
# source_python_custom (Spark 4 Python DataSource connector)
# ---------------------------------------------------------------------------


def test_synthgrid_source_partitioned_scan(spark):
    """The connector must produce the requested split surface (8 partitions)
    and exactly the deterministic rows — distributed generation, no driver
    materialization."""
    from tmapreduce_spark.sources.pysource import (
        SYNTH_HASH,
        SYNTH_ROWS,
        SYNTH_SPACE,
        read_synthgrid,
    )

    df = read_synthgrid(spark)
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == SYNTH_ROWS
    sample = {r["i"]: (r["h"], r["label"]) for r in df.filter("i < 20").collect()}
    for i in range(20):
        assert sample[i] == (i * SYNTH_HASH % SYNTH_SPACE, f"g{i % 7}")


def test_synthgrid_source_option_override(spark):
    from tmapreduce_spark.sources.pysource import read_synthgrid

    df = read_synthgrid(spark, num_rows=1000, num_parts=3)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 1000
    # contiguous non-overlapping splits cover [0, n) exactly once
    assert df.select("i").distinct().count() == 1000


# ---------------------------------------------------------------------------
# multimodal_patch_features
# ---------------------------------------------------------------------------


def test_patch_features_matches_independent_decode(spark):
    """Recompute patches from the shared pixel formula in pure Python
    (independent of both the Spark UDF and the oracle SQL)."""
    import hashlib

    import duckdb

    got = run_entry(spark, "multimodal_patch_features")
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    want = {}
    for doc_id, text in docs:
        hv = int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
        s, w, h = hv % 256, 4 + hv % 13, 4 + (hv // 13) % 13
        for i in range(w * h):
            x, y = i % w, i // w
            base = s + 7 * x + 13 * y
            v = base % 256 + (base + 31) % 256 + (base + 62) % 256
            key = (doc_id, y * 2 // h, x * 2 // w)
            n, t = want.get(key, (0, 0))
            want[key] = (n + 1, t + v)
    assert len(got) == len(want)
    for _, r in got.iterrows():
        n, t = want[(r["doc_id"], r["patch_row"], r["patch_col"])]
        assert (r["n_px"], r["psum"]) == (n, t)
        assert math.isclose(r["mean_intensity"], t / (3 * n), abs_tol=1e-4)


def test_patch_features_every_doc_has_full_grid(spark):
    got = run_entry(spark, "multimodal_patch_features")
    per_doc = got.groupby("doc_id").size()
    assert (per_doc == 4).all()
    # patches partition the image: sums of patch pixels = w*h per doc
    import duckdb
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert len(per_doc) == n_docs


# ---------------------------------------------------------------------------
# agg_mann_kendall
# ---------------------------------------------------------------------------


def test_mann_kendall_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "agg_mann_kendall").iloc[0]
    monthly = duckdb.sql(
        f"""SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
            FROM '{SF_SMOKE}/orders.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    vals = [c for _, c in monthly]
    n = len(vals)
    s = sum(
        (1 if vals[j] > vals[i] else -1 if vals[j] < vals[i] else 0)
        for i in range(n) for j in range(i + 1, n)
    )
    from collections import Counter

    ties = Counter(vals)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var_num = n * (n - 1) * (2 * n + 5) - tie_term
    assert got["n_months"] == n
    assert got["s_stat"] == s
    assert got["var_num"] == var_num
    assert got["n_pairs"] == n * (n - 1) // 2
    z = (s - 1) / math.sqrt(var_num / 18.0) if s > 0 else (
        (s + 1) / math.sqrt(var_num / 18.0) if s < 0 else 0.0
    )
    assert math.isclose(got["z_stat"], z, abs_tol=1e-6)
    assert math.isclose(got["tau"], s / (n * (n - 1) / 2), abs_tol=1e-6)
    assert got["significant_95"] == (abs(z) > 1.959964)


# ---------------------------------------------------------------------------
# pipeline_truncation_loss
# ---------------------------------------------------------------------------


def test_truncation_loss_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "pipeline_truncation_loss")
    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    for ctx in (128, 512, 2048):
        agg = {}
        for source, text in docs:
            toks = len([t for t in re.split(r"\s+", text.strip(), flags=re.ASCII) if t])
            n, tr, tot, lost = agg.get(source, (0, 0, 0, 0))
            agg[source] = (
                n + 1, tr + (toks > ctx), tot + toks, lost + max(toks - ctx, 0)
            )
        sub = got[got["ctx_len"] == ctx].set_index("source")
        for source, (n, tr, tot, lost) in agg.items():
            r = sub.loc[source]
            assert (r["n_docs"], r["n_truncated"], r["total_tokens"],
                    r["tokens_lost"]) == (n, tr, tot, lost)
            assert math.isclose(r["loss_share"], lost / tot, abs_tol=1e-6)


def test_truncation_loss_monotone_in_ctx(spark):
    """Longer context must never lose MORE tokens (per source)."""
    got = run_entry(spark, "pipeline_truncation_loss")
    for source, grp in got.groupby("source"):
        g = grp.sort_values("ctx_len")
        assert g["tokens_lost"].is_monotonic_decreasing
        assert g["n_truncated"].is_monotonic_decreasing


# ---------------------------------------------------------------------------
# udf_udtf_analyze (polymorphic UDTF)
# ---------------------------------------------------------------------------


def test_udtf_analyze_schema_follows_constant_arg(spark):
    """The analyze() hook must derive a DIFFERENT typed schema per constant
    n — the polymorphism the fixed-signature UDTF can't express."""
    run_entry(spark, "udf_udtf_analyze")  # registers ngrams_udtf
    two = spark.sql("SELECT g.* FROM (SELECT 'a b c' AS t) v, LATERAL ngrams_udtf(v.t, 2) g")
    four = spark.sql("SELECT g.* FROM (SELECT 'a b c d e' AS t) v, LATERAL ngrams_udtf(v.t, 4) g")
    assert two.columns == ["pos", "w0", "w1"]
    assert four.columns == ["pos", "w0", "w1", "w2", "w3"]
    assert [tuple(r) for r in two.collect()] == [(0, "a", "b"), (1, "b", "c")]
    assert [tuple(r) for r in four.collect()] == [
        (0, "a", "b", "c", "d"), (1, "b", "c", "d", "e")
    ]


def test_udtf_analyze_trigrams_sane(spark):
    got = run_entry(spark, "udf_udtf_analyze")
    # every trigram's first word at pos p equals the second word at pos p-1
    one_doc = got[got["doc_id"] == got["doc_id"].iloc[0]].sort_values("pos")
    w0, w1 = one_doc["w0"].tolist(), one_doc["w1"].tolist()
    assert w0[1:] == w1[:-1]


# ---------------------------------------------------------------------------
# scalar_variant
# ---------------------------------------------------------------------------


def test_variant_roundtrip_and_introspection(spark):
    got = run_entry(spark, "scalar_variant")
    # a string field read as bigint must try_variant_get -> NULL on EVERY row
    assert (got["n_bad_casts"] == got["n_events"]).all()
    # coalesced construction keeps the variant schema constant
    assert (
        got["variant_schema"]
        == "OBJECT<ids: ARRAY<BIGINT>, k: BIGINT, tag: STRING>"
    ).all()
    assert got["n_events"].sum() == 1000  # every event consumed once


# ---------------------------------------------------------------------------
# graph_modularity
# ---------------------------------------------------------------------------


def test_modularity_matches_python_recompute(spark):
    import duckdb
    from collections import Counter, defaultdict

    got = run_entry(spark, "graph_modularity")
    edges = duckdb.sql(
        f"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
                           FROM '{SF_SMOKE}/lineitem.parquet')
            SELECT a.l_partkey, b.l_partkey
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2"""
    ).fetchall()
    brand = dict(duckdb.sql(
        f"SELECT p_partkey, p_brand FROM '{SF_SMOKE}/part.parquet'"
    ).fetchall())
    m = len(edges)
    e_c, d_c, nodes = Counter(), Counter(), defaultdict(set)
    for a, b in edges:
        if brand[a] == brand[b]:
            e_c[brand[a]] += 1
        d_c[brand[a]] += 1
        d_c[brand[b]] += 1
        nodes[brand[a]].add(a)
        nodes[brand[b]].add(b)
    q = sum(e_c[c] / m - (d_c[c] / (2 * m)) ** 2 for c in d_c)
    for _, r in got.iterrows():
        c = r["brand"]
        assert r["e_c"] == e_c[c] and r["d_c"] == d_c[c]
        assert r["n_nodes"] == len(nodes[c])
        assert math.isclose(
            r["contribution"], e_c[c] / m - (d_c[c] / (2 * m)) ** 2, abs_tol=1e-6
        )
        assert math.isclose(r["modularity_q"], q, abs_tol=1e-5)
    # sanity: modularity of any partition is in [-0.5, 1]
    assert -0.5 <= got["modularity_q"].iloc[0] <= 1.0


# ---------------------------------------------------------------------------
# pipeline_dataset_hash
# ---------------------------------------------------------------------------


def test_dataset_hash_order_independent_and_sensitive(spark):
    """The operator's contract: same rows in any order -> same fingerprint;
    any edited document -> different fingerprint. Verified by recomputing
    in Python over a shuffled row order and over a 1-doc mutation."""
    import hashlib

    import duckdb

    got = run_entry(spark, "pipeline_dataset_hash").set_index("source")
    docs = duckdb.sql(
        f"SELECT source, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()

    def fp(rows):
        x, sm, n, ch = 0, 0, 0, 0
        for _, text in rows:
            h = int(hashlib.md5(text.encode()).hexdigest()[:15], 16)
            x ^= h
            sm += h % 1000000007
            n += 1
            ch += len(text)
        return x, sm, n, ch

    x, sm, n, ch = fp(docs)
    corp = got.loc["__corpus__"]
    assert (corp["content_xor"], corp["content_sum_mod"],
            corp["n_docs"], corp["total_chars"]) == (x, sm, n, ch)
    assert fp(list(reversed(docs))) == (x, sm, n, ch)  # order-independent
    mutated = [("s", docs[0][1] + "!")] + docs[1:]
    assert fp(mutated)[0] != x  # content-sensitive
    # per-source fingerprints xor-merge to the corpus fingerprint
    per = got.drop("__corpus__")
    acc = 0
    for _, r in per.iterrows():
        acc ^= int(r["content_xor"])
    assert acc == x


# ---------------------------------------------------------------------------
# events_survival_km (right-censored Kaplan-Meier)
# ---------------------------------------------------------------------------


def test_km_matches_python_recompute(spark):
    import duckdb

    got = run_entry(spark, "events_survival_km")
    rows = duckdb.sql(
        f"""SELECT user_id,
                   epoch_us(min(ts)) // 1000000 AS s0,
                   epoch_us(max(ts)) // 1000000 AS s1
            FROM '{SF_SMOKE}/events.parquet' GROUP BY user_id"""
    ).fetchall()
    h = max(s1 for _, _, s1 in rows)
    users = [((s1 - s0) // 3600, (h - s1) // 3600 < 12) for _, s0, s1 in rows]
    times = sorted({t for t, cens in users if not cens})
    km, out = 1.0, {}
    for t in times:
        n_at_risk = sum(1 for s, _ in users if s >= t)
        d = sum(1 for s, cens in users if s == t and not cens)
        c = sum(1 for s, cens in users if s == t and cens)
        km *= 1.0 - d / n_at_risk
        out[t] = (d, c, n_at_risk, km)
    assert len(got) == len(times)
    for _, r in got.iterrows():
        d, c, n, km_t = out[r["t"]]
        assert (r["d"], r["c"], r["n_at_risk"]) == (d, c, n)
        assert math.isclose(r["km_survival"], km_t, abs_tol=2e-6)


def test_km_is_monotone_and_above_uncensored_tail(spark):
    """KM survival is non-increasing; and with censored users removed from
    the death count, the curve can never drop below the naive all-users
    estimate evaluated at the same spans' tail."""
    got = run_entry(spark, "events_survival_km").sort_values("t")
    km = got["km_survival"].tolist()
    assert all(a >= b - 1e-9 for a, b in zip(km, km[1:]))
    assert (got["km_survival"] > 0).all() and (got["km_survival"] <= 1).all()
    assert got["c"].sum() > 0 and got["d"].sum() > 0  # both branches exercised
