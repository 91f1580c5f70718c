"""Similarity family. Block-size guard for ``blocked_pair_cosines``
(VERDICT r02 #5): a label block larger than ``max_block`` must be sub-split
by hyperplane LSH bucket so the intra-block quadratic stays bounded when one
label dominates, with the DuckDB oracle applying the identical rule. The
at-rest LSH-bucketed ANN layout (``layout_ann_bucketed``) against a
brute-force recompute."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE, jobs_in_group
from tmapreduce_spark.functions.similarity import (
    QUANT,
    _buckets_of,
    _pairs_sql,
    blocked_pair_cosines,
)


def _as_pairs(df):
    return {(r["vec_a"], r["vec_b"]): r["cosine"] for r in df.collect()}


@pytest.fixture(scope="module")
def skewcorpus_dir(spark, tmp_path_factory):
    """Synthetic embeddings with one dominant label: label 0 holds 60 vectors
    (30 engineered near-identical pairs: v and a tiny perturbation of v),
    labels 1..3 hold 5 each. dim=16, deterministic values."""
    out = str(tmp_path_factory.mktemp("skewcorpus"))
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for i in range(30):
        v = rng.uniform(-1, 1, 16).astype(np.float32)
        w = (v + np.float32(0.001) * np.sign(v)).astype(np.float32)
        rows.append((vid, [float(x) for x in v], 0))
        rows.append((vid + 1, [float(x) for x in w], 0))
        vid += 2
    for lbl in (1, 2, 3):
        for _ in range(5):
            v = rng.uniform(-1, 1, 16).astype(np.float32)
            rows.append((vid, [float(x) for x in v], lbl))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


def test_default_guard_inactive_on_testdata(spark):
    """Testdata's largest block (218 at sf0.1) is below MAX_BLOCK: the
    guarded engine must produce the identical pair set to an effectively
    unguarded run."""
    guarded = _as_pairs(blocked_pair_cosines(spark, SF_SMOKE, 0.3))
    unguarded = _as_pairs(blocked_pair_cosines(spark, SF_SMOKE, 0.3, max_block=1 << 30))
    assert guarded == unguarded
    assert guarded  # non-vacuous


def test_dominant_label_subblocked_matches_oracle(spark, duck, skewcorpus_dir):
    """With max_block=8 the 60-vector label is LSH-sub-blocked; the Spark
    result must match the oracle running the identical rule, and every
    emitted pair must keep its exact unguarded cosine (canopy = subset
    semantics, never a changed score)."""
    blocked = _as_pairs(blocked_pair_cosines(spark, skewcorpus_dir, 0.3, max_block=8))
    unblocked = _as_pairs(
        blocked_pair_cosines(spark, skewcorpus_dir, 0.3, max_block=1 << 30)
    )

    duck.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        f"SELECT * FROM '{skewcorpus_dir}/embeddings.parquet/*.parquet'"
    )
    oracle = {
        (a, b): c
        for a, b, _lbl, c in duck.execute(_pairs_sql(0.3, max_block=8)).fetchall()
    }
    assert set(blocked) == set(oracle)
    for p, c in blocked.items():
        assert math.isclose(c, oracle[p], rel_tol=0, abs_tol=0), p

    # subset of the unguarded pairs with identical scores
    assert set(blocked) <= set(unblocked)
    for p, c in blocked.items():
        assert c == unblocked[p], p


def test_subblocking_bounds_quadratic_and_keeps_near_dups(spark, skewcorpus_dir):
    """The dominant label's pair candidates drop from 60*59/2 to the sum of
    per-bucket quadratics, and the engineered near-identical pairs — which
    share a bucket by construction (perturbation preserves every coordinate
    sign, hence every plane-dot sign) — all survive with cosine >= 0.3."""
    rows = (
        spark.read.parquet(f"{skewcorpus_dir}/embeddings.parquet")
        .filter("label = 0")
        .orderBy("vec_id")
        .collect()
    )
    E = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    Q = np.floor(E * QUANT + 0.5).astype(np.int64)
    buckets = _buckets_of(Q)
    ids = np.array([r["vec_id"] for r in rows])

    # engineered pairs land in one bucket
    for i in range(0, 60, 2):
        assert buckets[i] == buckets[i + 1], (ids[i], ids[i + 1])

    from collections import Counter

    sizes = Counter(buckets.tolist())
    bounded = sum(k * (k - 1) // 2 for k in sizes.values())
    assert bounded < 60 * 59 // 2  # the quadratic actually shrank
    assert max(sizes.values()) < 60  # the dominant label really split

    blocked = _as_pairs(blocked_pair_cosines(spark, skewcorpus_dir, 0.3, max_block=8))
    for i in range(0, 60, 2):
        assert (int(ids[i]), int(ids[i + 1])) in blocked


def test_pca_power_direction_quality_and_exact_diag(spark):
    """The fixed-point power-iteration direction must capture >= 85% of
    the true top eigenvalue on the SAME quantized Gram (numpy eigh as the
    reference — the random fixture's near-flat spectrum bounds what 8
    rounds can reach; see the operator docstring), must beat a random
    direction's expectation (trace/64 = the mean eigenvalue; the fixture
    spectrum is near-flat, so the top eig is < 2x the mean), and gram_diag must equal
    the exact integer diagonal."""
    import numpy as np

    from tmapreduce_spark.functions.similarity import (
        PCA_Q,
        embedding_pca_power,
    )

    from tmapreduce_spark.sources.catalog import load_table

    rows = embedding_pca_power(spark, SF_SMOKE).collect()
    assert len(rows) == 64
    e = load_table(spark, SF_SMOKE, "embeddings").select("embedding").collect()
    m = np.stack([r["embedding"] for r in e])
    q = np.floor(m.astype(np.float64) * PCA_Q + 0.5).astype(np.int64)
    g = (q.T @ q).astype(np.float64)
    diag = {int(r["dim"]): r["gram_diag"] for r in rows}
    for d in range(64):
        assert diag[d] == int(g[d, d])
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    rayleigh = float(v @ g @ v) / float(v @ v)
    lam_max = float(np.linalg.eigvalsh(g)[-1])
    assert rayleigh >= 0.85 * lam_max, (rayleigh, lam_max)
    assert rayleigh > np.trace(g) / 64


def _brute_ann_bucketed(sf_dir: str, n_queries: int, top_k: int):
    """Pure numpy/python recompute of layout_ann_bucketed: quantize, LSH
    bucket via the deterministic integer planes, same-bucket candidates,
    exact int64 dot cosine on the 1e-6 grid, per-query top-k with the
    neighbor_id tiebreak."""
    import duckdb

    from tmapreduce_spark.functions.similarity import QUANT, _buckets_of

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    Q = np.floor(E * QUANT + 0.5).astype(np.int64)
    buckets = _buckets_of(Q)
    nrm = np.sqrt(np.einsum("ij,ij->i", Q, Q).astype(np.float64))
    out = []
    for qi in range(len(ids)):
        if ids[qi] >= n_queries:
            continue
        m = (buckets == buckets[qi]) & (ids != ids[qi])
        if not m.any():
            continue
        dots = Q[m] @ Q[qi]
        cos = dots.astype(np.float64) / (nrm[m] * nrm[qi])
        cos = np.floor(cos * 1e6 + 0.5) / 1e6
        cand = sorted(
            zip(cos.tolist(), ids[m].tolist()), key=lambda t: (-t[0], t[1])
        )
        for rank, (c, nid) in enumerate(cand[:top_k], start=1):
            out.append((int(ids[qi]), int(nid), float(c), rank))
    return sorted(out)


def test_layout_ann_bucketed_matches_brute_force(spark):
    """The bucketed-layout ANN join must reproduce the brute-force
    same-bucket top-k exactly — every (query, neighbor, cosine, rank)."""
    from tmapreduce_spark.sources.bucketing import (
        N_ANN_BUCKETED_QUERIES,
        layout_ann_bucketed,
    )
    from tmapreduce_spark.functions.similarity import TOP_K

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in layout_ann_bucketed(spark, SF_SMOKE).collect()
    )
    want = _brute_ann_bucketed(SF_SMOKE, N_ANN_BUCKETED_QUERIES, TOP_K)
    assert got == want


def test_layout_ann_bucketed_oracle_parity(spark, duck):
    """Spark vs DuckDB oracle, bit-exact at the smoke SF (the driver's gate
    replicated in-tree)."""
    from tmapreduce_spark.sources.bucketing import (
        _layout_ann_bucketed_sql,
        layout_ann_bucketed,
    )

    sp = sorted(tuple(r) for r in layout_ann_bucketed(spark, SF_SMOKE).collect())
    duck.execute(
        "CREATE OR REPLACE VIEW embeddings AS "
        f"SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    )
    orc = sorted(tuple(r) for r in duck.execute(_layout_ann_bucketed_sql()).fetchall())
    assert sp == orc


def test_layout_ann_bucketed_spark_bucket_bits_match_numpy(spark):
    """The JVM bucket expression (exact int64 plane dots) must agree with
    numpy's _buckets_of on every corpus row — the bit-exactness that makes
    the at-rest layout and the driver-side ann_lsh_topk interchangeable."""
    import duckdb

    from pyspark.sql import functions as F

    from tmapreduce_spark.functions.similarity import (
        QUANT,
        _bucket_spark,
        _buckets_of,
        _quant_spark,
    )
    from tmapreduce_spark.sources.catalog import load_table

    got = {
        r["vec_id"]: r["bucket"]
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", F.expr(_quant_spark("embedding")).alias("qe"))
        .select("vec_id", F.expr(_bucket_spark()).alias("bucket"))
        .collect()
    }
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    Q = np.floor(
        np.stack([np.asarray(r[1], dtype=np.float64) for r in rows]) * QUANT
        + 0.5
    ).astype(np.int64)
    want = dict(zip((r[0] for r in rows), _buckets_of(Q).tolist()))
    assert got == want


def test_layout_ann_bucketed_lone_vector_query_emits_nothing(spark, tmp_path):
    """Degenerate input: a query whose bucket contains only itself has no
    candidates — it must vanish from the output (no NULL row, no self
    pair), identically in the brute recompute."""
    from tmapreduce_spark.sources.bucketing import layout_ann_bucketed

    # vec 0 is axis-aligned on dim 0; planes give it some bucket; vecs 1-2
    # are copies of each other but far from 0 — craft so 0 is alone in its
    # bucket by construction (verified below, not assumed).
    from tmapreduce_spark.functions.similarity import QUANT, _buckets_of

    vecs = {
        0: [1.0] + [0.0] * 63,
        1: [0.0] * 62 + [1.0, -1.0],
        2: [0.0] * 62 + [1.0, -1.0],
    }
    Q = np.floor(
        np.stack([np.asarray(v) for v in vecs.values()]) * QUANT + 0.5
    ).astype(np.int64)
    b = _buckets_of(Q)
    if b[0] == b[1]:
        pytest.skip("crafted vectors unexpectedly share a bucket")
    pd.DataFrame(
        {
            "vec_id": list(vecs),
            "embedding": [np.array(v, dtype=np.float32) for v in vecs.values()],
            "label": [0, 0, 0],
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    got = layout_ann_bucketed(spark, str(tmp_path)).collect()
    # queries 1 and 2 see each other; query 0 is absent entirely
    assert sorted((r["query_id"], r["neighbor_id"]) for r in got) == [
        (1, 2),
        (2, 1),
    ]
    assert all(r["rank"] == 1 for r in got)


def test_quantize_rows_and_arrow_batches_agree_with_duckdb(spark, duck, tmp_path):
    """``quantize`` maps the same float32 vectors to the same int64 grid
    whether they arrive as collected rows (Python floats) or as an Arrow
    batch column (float32 arrays), and both equal DuckDB's
    ``_quant_duck``. Components are random, signed, and include values a
    half-unit of the grid from a rounding boundary."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from tmapreduce_spark.functions.similarity import _quant_duck, quantize

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-3, 3, (64, 16)).astype(np.float32)
    vecs[0, :4] = np.float32([-0.0000005, 0.0000005, -1.2345675, 2.5e-7])
    path = tmp_path / "vecs.parquet"
    papq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        path,
    )
    df = spark.read.parquet(str(path))

    rows = df.orderBy("vec_id").collect()
    from_rows = quantize([r["embedding"] for r in rows])

    def batch_grid(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "qe": list(quantize(pdf["embedding"]))}
            )

    from_batches = np.stack(
        [
            r["qe"]
            for r in df.mapInPandas(batch_grid, "vec_id long, qe array<long>")
            .orderBy("vec_id")
            .collect()
        ]
    )
    from_duck = np.stack(
        [
            r[0]
            for r in duck.execute(
                f"SELECT {_quant_duck('embedding')} FROM '{path}' ORDER BY vec_id"
            ).fetchall()
        ]
    )
    assert from_rows.dtype == np.int64
    assert (from_rows < 0).any()
    np.testing.assert_array_equal(from_rows, from_batches)
    np.testing.assert_array_equal(from_rows, from_duck)


def test_mround_np_equals_duckdb_grid_rounding(duck):
    """The numpy twin of ``parity.mround`` gives, bit for bit, DuckDB's
    ``floor(x * 1000000 + 0.5) / 1000000`` on the same doubles: random
    cosines in [-1, 1] plus values at and next to half-unit boundaries."""
    from tmapreduce_spark.parity import mround_np

    rng = np.random.RandomState(5)
    half = (np.arange(-2000, 2000) + 0.5) / 1e6
    x = np.concatenate(
        [
            rng.uniform(-1, 1, 5000),
            half,
            np.nextafter(half, np.inf),
            np.nextafter(half, -np.inf),
            [0.0, -0.0, 1.0, -1.0],
        ]
    )
    frame = pd.DataFrame({"i": np.arange(len(x)), "x": x})
    duck.register("mround_np_input", frame)
    try:
        want = (
            duck.execute(
                "SELECT floor(x * 1000000 + 0.5) / 1000000 AS r "
                "FROM mround_np_input ORDER BY i"
            )
            .df()["r"]
            .to_numpy()
        )
    finally:
        duck.unregister("mround_np_input")
    got = mround_np(x, 6)
    assert got.dtype == np.float64
    assert got.tobytes() == want.astype(np.float64).tobytes()


def test_head_vectors_is_one_job_in_vec_id_order(spark):
    """``head_vectors`` reads its few rows with one ``collect`` and sorts
    them in the driver: one Spark job per call, ids ascending, and the same
    matrices as an ``orderBy("vec_id").collect()`` of the same rows (which
    runs three jobs: a range-partition sample, the sort and the collect)."""
    from pyspark.sql import functions as F

    from tmapreduce_spark.functions.similarity import head_vectors, l2_norms, quantize
    from tmapreduce_spark.sources.catalog import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    for k in (16, [11, 3, 7]):
        out = []
        jobs = jobs_in_group(
            spark, f"head_vectors {k}", lambda: out.append(head_vectors(e, k))
        )
        assert len(jobs) == 1, (k, jobs)
        ids, Q, nrm = out[0]
        cond = F.col("vec_id").isin(k) if isinstance(k, list) else F.col("vec_id") < k
        rows = e.filter(cond).orderBy("vec_id").collect()
        assert ids.tolist() == sorted(ids.tolist()) == [r["vec_id"] for r in rows]
        assert len(ids) == (len(k) if isinstance(k, list) else k)
        np.testing.assert_array_equal(Q, quantize([r["embedding"] for r in rows]))
        np.testing.assert_array_equal(nrm, l2_norms(Q))
