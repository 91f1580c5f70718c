"""Round-8 operator semantics: CDC MERGE reconciliation audit and the SCD2
valid-from/valid-to snapshot (VERDICT r7 item 5). Oracle hash-parity is
covered by test_oracle_parity's catalog replica; these pin the warehouse
invariants the hash can't explain on its own."""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.conftest import SF_SMOKE, catalog, run_entry, smoke_table


_ORDERS_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
    " strftime(o_orderdate, '%Y-%m-%d') AS od"
)


def test_cdc_upsert_reconciliation_identities(spark):
    got = run_entry(spark, "pipeline_cdc_upsert_orders").set_index("action")
    o = smoke_table("orders", _ORDERS_COLS)
    n = len(o)
    mod = o["o_orderkey"] % 20
    assert set(got.index) == {"kept", "updated", "deleted", "inserted"}
    # action counts partition the base table (+ the inserted copies)
    assert got.loc["updated", "n_orders"] == (mod == 0).sum()
    assert got.loc["deleted", "n_orders"] == (mod == 1).sum()
    assert got.loc["inserted", "n_orders"] == (mod == 2).sum()
    # inserts land under NEW keys (+1e8) — their source rows stay 'kept'
    assert got.loc["kept", "n_orders"] == n - (mod == 0).sum() - (mod == 1).sum()
    # kept rows move no money; deletes remove exactly their before-amount
    assert got.loc["kept", "amount_delta"] == 0.0
    assert got.loc["deleted", "amount_after"] == 0.0
    assert (
        abs(got.loc["deleted", "amount_delta"] + got.loc["deleted", "amount_before"])
        < 1e-9
    )
    # inserts bring new keys: before-amount is zero by construction
    assert got.loc["inserted", "amount_before"] == 0.0
    # updates are +10%: delta within a cent-rounding of before/10
    upd = got.loc["updated"]
    assert abs(upd["amount_delta"] - upd["amount_before"] / 10) < 0.05
    # per-row reconciliation: after - before ~= delta (independent roundings
    # of the same exact micro-unit sums differ by at most 2 half-cents)
    for a in got.index:
        r = got.loc[a]
        assert abs((r["amount_after"] - r["amount_before"]) - r["amount_delta"]) <= 0.02


def test_cdc_insert_offset_clears_max_key():
    """CDC_INSERT_KEY_OFFSET must exceed max(o_orderkey) or inserted keys
    collide with live base rows (r8 ADVICE): the reconciliation identities
    above silently weaken before they fail, so pin the bound directly."""
    from tmapreduce_spark.operators.tpch_extra import CDC_INSERT_KEY_OFFSET

    mx = duckdb.sql(
        f"SELECT max(o_orderkey) FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchone()[0]
    assert mx < CDC_INSERT_KEY_OFFSET


def test_scd2_snapshot_invariants(spark):
    got = run_entry(spark, "pipeline_scd2_orders_status")
    o = smoke_table("orders", _ORDERS_COLS).sort_values(["o_custkey", "od", "o_orderkey"])
    # independent per-customer recompute of the change rows
    for cust, g in o.groupby("o_custkey"):
        runs = []
        prev = None
        for _, r in g.iterrows():
            if prev is None or r["o_orderstatus"] != prev:
                runs.append((r["o_orderstatus"], r["od"]))
            prev = r["o_orderstatus"]
        mine = got[got["o_custkey"] == cust].sort_values("version")
        assert len(mine) == len(runs), cust
        assert mine["version"].tolist() == list(range(1, len(runs) + 1)), cust
        assert mine["o_orderstatus"].tolist() == [s for s, _ in runs], cust
        assert mine["valid_from"].tolist() == [d for _, d in runs], cust
        # valid_to chains to the next version's valid_from; only the last is open
        vt = mine["valid_to"].tolist()
        assert vt[:-1] == mine["valid_from"].tolist()[1:], cust
        assert vt[-1] is None or pd.isna(vt[-1]), cust
        assert mine["is_current"].tolist() == [0] * (len(runs) - 1) + [1], cust
    # consecutive versions always change status (no degenerate rows)
    nxt = got.sort_values(["o_custkey", "version"]).groupby("o_custkey")[
        "o_orderstatus"
    ].shift(1)
    srt = got.sort_values(["o_custkey", "version"])
    same = (srt["o_orderstatus"] == nxt.values).fillna(False)
    assert not same.any()


def test_scd2_plan_single_exchange(spark):
    """All three window passes (lag, lead, row_number) must share ONE
    o_custkey shuffle — a second exchange would re-shuffle corpus-sized
    history at 100 TB for nothing. Counted on the executed-plan string
    (each node appears once, unlike the formatted explain)."""
    df = catalog()["pipeline_scd2_orders_status"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (plan.count("Exchange") - plan.count("ReusedExchange")) == 1, plan
    assert plan.count("Sort ") == 1, plan  # one sort serves every window


def test_cdc_merge_plan_copartitioned_join(spark):
    """MERGE must be one co-partitioned full-outer join on the PK plus the
    4-row action aggregate — never a nested-loop/cartesian shape."""
    df = catalog()["pipeline_cdc_upsert_orders"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_cuts_recursion_matches_flat_and_bruteforce(spark):
    """The r08 recursive grid narrowing in _exact_quantile_disc_cuts
    (oversized candidate buckets recurse instead of over-fetching) must
    produce the same exact percentile_disc values as the one-level walk
    and as a brute-force sort."""
    import tmapreduce_spark.operators.analytics as A
    from tmapreduce_spark.sources.catalog import load_table

    o = load_table(spark, SF_SMOKE, "orders")
    fr = [(k, 10) for k in range(1, 10)]
    flat = A._exact_quantile_disc_cuts(o, "o_totalprice", fr, buckets=65536)
    saved = A._QCUT_FETCH_LIMIT
    try:
        A._QCUT_FETCH_LIMIT = 10  # force multi-level recursion at any size
        rec = A._exact_quantile_disc_cuts(o, "o_totalprice", fr, buckets=8)
    finally:
        A._QCUT_FETCH_LIMIT = saved
    assert rec == flat
    vals = sorted(v[0] for v in o.select("o_totalprice").collect())
    n = len(vals)
    brute = [vals[max(1, -((-k * n) // 10)) - 1] for k in range(1, 10)]
    assert flat == brute


def test_hard_negatives_match_numpy_bruteforce(spark):
    """retrieval_hard_negatives must equal a numpy brute-force recompute:
    per anchor, the top-10 cosine neighbors among DIFFERENT-label vectors
    on the same quantized-int64 grid with the same (cosine desc, id asc)
    tiebreak."""
    import numpy as np

    from tmapreduce_spark.functions.similarity import HN_TOP_K, N_QUERIES, QUANT
    from tmapreduce_spark.sources.catalog import load_table

    got = run_entry(spark, "retrieval_hard_negatives")
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    labs = np.array([r["label"] for r in rows])
    M = np.floor(
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        * QUANT + 0.5
    ).astype(np.int64)
    nrm = np.sqrt(np.einsum("ij,ij->i", M, M).astype(np.float64))
    for qi in np.where(ids < N_QUERIES)[0]:
        cos = (M @ M[qi]).astype(np.float64) / (nrm * nrm[qi])
        cos = np.floor(cos * 1e6 + 0.5) / 1e6
        cand = [
            (-cos[j], ids[j]) for j in range(len(ids)) if labs[j] != labs[qi]
        ]
        want = sorted(cand)[:HN_TOP_K]
        mine = got[got["query_id"] == ids[qi]].sort_values("rank")
        assert len(mine) == len(want)
        assert mine["neighbor_id"].tolist() == [v for _, v in want]
        assert all(mine["query_label"] != mine["neighbor_label"])
        assert np.allclose(mine["cosine"].to_numpy(), [-c for c, _ in want])


def test_scd2_property_random_tables(spark, tmp_path):
    """3-way SCD2 property check on adversarial random orders tables
    (same-date ties broken by orderkey, single-order customers, constant
    statuses): the Spark operator, the DuckDB oracle, and an independent
    Python run-length reference must agree exactly."""
    import random

    import duckdb
    import pandas as pd

    rng = random.Random(8)
    for case in range(6):
        n = rng.randint(1, 40)
        rows = []
        for k in range(n):
            rows.append(
                {
                    "o_orderkey": k,
                    "o_custkey": rng.randint(1, 4),
                    "o_orderstatus": rng.choice(["O", "F", "P"]),
                    "o_totalprice": round(rng.uniform(10, 100), 2),
                    "o_orderdate": pd.Timestamp(
                        2024, 1, rng.randint(1, 3)  # heavy date ties
                    ),
                    "o_orderpriority": "1-URGENT",
                }
            )
        pdf = pd.DataFrame(rows)
        # write timestamp[us] like the fixtures — a NANOS footer would read
        # as BIGINT under the session's nanosAsLong footer defense
        pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        d = tmp_path / f"case{case}"
        d.mkdir()
        pdf.to_parquet(d / "orders.parquet")

        got = (
            catalog()["pipeline_scd2_orders_status"]
            .fn(spark, str(d))
            .toPandas()
            .sort_values(["o_custkey", "version"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/orders.parquet')"
        )
        ora = (
            con.execute(catalog()["pipeline_scd2_orders_status"].oracle)
            .df()
            .sort_values(["o_custkey", "version"])
            .reset_index(drop=True)
        )
        assert got.astype(str).equals(ora.astype(str)), f"case {case}"

        # independent run-length reference
        want = []
        srt = pdf.assign(od=pdf["o_orderdate"].dt.strftime("%Y-%m-%d")).sort_values(
            ["o_custkey", "od", "o_orderkey"]
        )
        for cust, g in srt.groupby("o_custkey"):
            runs = []
            prev = None
            for _, r in g.iterrows():
                if prev is None or r["o_orderstatus"] != prev:
                    runs.append([r["o_orderstatus"], r["od"]])
                prev = r["o_orderstatus"]
            for i, (st, vf) in enumerate(runs):
                want.append(
                    (
                        cust,
                        i + 1,
                        st,
                        vf,
                        runs[i + 1][1] if i + 1 < len(runs) else None,
                        1 if i + 1 == len(runs) else 0,
                    )
                )
        ref = pd.DataFrame(
            want,
            columns=[
                "o_custkey", "version", "o_orderstatus",
                "valid_from", "valid_to", "is_current",
            ],
        ).sort_values(["o_custkey", "version"]).reset_index(drop=True)
        assert len(got) == len(ref), f"case {case}"
        for col in ref.columns:
            a = got[col].astype(str).where(~got[col].isna(), "None")
            b = ref[col].astype(str).where(~ref[col].isna(), "None")
            assert a.tolist() == b.tolist(), f"case {case} col {col}"
